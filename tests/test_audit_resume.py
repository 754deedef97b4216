"""Audit ledger + resume semantics (SURVEY.md §5.2.4): kill after k
partitions, rerun, assert only pending partitions recomputed and the
final ledger is identical to an uninterrupted run."""

import glob
import json
import uuid

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.audit import (
    AUDIT_SCHEMA, AuditLedger, run_partitioned_checks,
)
from anomaly_detection_spark.catalog import read_table, write_partitioned
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
    # rerun: nothing pending, ledger unchanged, nothing left cached
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    second = run_partitioned_checks(
        spark, df, partition_col="bucket", value_col="content_len",
        code_cols=CODE_COLS, ledger=ledger, run_id="r2",
    )
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) \
        <= persisted
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


def test_wall_s_times_the_aggregation(spark, tmp_path):
    """``wall_s`` is the measured time of the job that computes the
    audit rows: a check column that sleeps 0.3 s per partition shows in
    every row, and the returned rows are the ones the ledger holds."""
    import time

    import pandas as pd

    @F.pandas_udf("int")
    def slow_check(v: pd.Series) -> pd.Series:
        time.sleep(0.3)
        return pd.Series(1, index=v.index, dtype="int32")

    df = spark.range(40).select(
        (F.col("id") % 4).alias("bucket"),
        F.col("id").cast("double").alias("value"),
    ).repartition(4).withColumn("c_slow", slow_check("value"))
    ledger = AuditLedger(spark, str(tmp_path / "audit_wall"))
    audit = run_partitioned_checks(
        spark, df, partition_col="bucket", value_col="value",
        code_cols=["c_slow"], ledger=ledger, run_id="w",
    ).collect()
    assert len(audit) == 4
    assert all(r["wall_s"] >= 0.3 for r in audit), audit
    assert len({r["wall_s"] for r in audit}) == 1
    assert sorted(map(tuple, audit)) == \
        sorted(map(tuple, ledger.committed().collect()))


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


def test_compaction_crash_after_rename_aside_keeps_ledger(
        spark, tmp_path, monkeypatch):
    """A compaction that dies after renaming the old ledger aside (before
    the compacted copy is renamed in) must not lose the ledger: the next
    read puts the old one back, and a retried compaction succeeds."""
    import os

    from anomaly_detection_spark.audit import AUDIT_SCHEMA

    ledger = AuditLedger(spark, str(tmp_path / "audit_crash"))
    for i in range(2):
        ledger.append(spark.createDataFrame(
            [(f"p{i}", f"r{i}", float(i), 10, 10, 7, 1.0, 0.5, 0, 0, 0,
              "PASS", 0.1)], AUDIT_SCHEMA))
    rows = lambda: sorted((r["partition_key"], r["run_id"])  # noqa: E731
                          for r in ledger.committed().collect())
    before = rows()
    assert before == [("p0", "r0"), ("p1", "r1")]

    real_replace = os.replace
    calls = []

    def replace(src, dst):
        calls.append((src, dst))
        if len(calls) == 2:
            raise OSError("crash before the compacted copy moves in")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(OSError):
        ledger.compact()
    monkeypatch.undo()
    assert calls[0][1].endswith(".old")
    assert not (tmp_path / "audit_crash").exists()
    assert rows() == before
    assert not (tmp_path / "audit_crash.old").exists()
    assert ledger.compact() == 2
    assert rows() == before


def test_unreadable_ledger_raises(spark, tmp_path):
    """Only a missing ledger reads as empty; a corrupt one must not, or
    every partition would be recomputed and appended again."""
    assert AuditLedger(spark, str(tmp_path / "none")).committed().count() == 0
    path = tmp_path / "audit_bad"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        AuditLedger(spark, str(path)).committed()


def test_compact_missing_ledger_writes_nothing(spark, tmp_path):
    assert AuditLedger(spark, str(tmp_path / "none")).compact() == 0
    assert list(tmp_path.iterdir()) == []


def test_resume_never_opens_committed_files(spark, tmp_path):
    """Resume is a partition filter on the committed keys: a committed
    bucket's file can turn to garbage after the table is read, and the
    resumed run still commits exactly the pending buckets."""
    path = str(tmp_path / "corpus")
    write_partitioned(generate_code_corpus(spark, 4000), path, n_buckets=8)
    ledger = AuditLedger(spark, str(tmp_path / "audit_prune"))
    kw = dict(partition_col="bucket", value_col="content_len",
              code_cols=CODE_COLS, ledger=ledger)
    table = read_table(spark, path)
    run_partitioned_checks(spark, corpus_constraint_codes(
        table.filter(F.col("bucket") < 3), keep=["bucket"]), **kw)

    table = read_table(spark, path)
    victim = sorted(glob.glob(path + "/bucket=1/*.parquet"))[0]
    with open(victim, "wb") as f:
        f.write(b"not a parquet file")
    resumed = run_partitioned_checks(
        spark, corpus_constraint_codes(table, keep=["bucket"]), **kw)
    assert sorted(r.partition_key for r in resumed.collect()) == \
        [str(b) for b in range(3, 8)]
    assert sorted(ledger.committed_keys()) == [str(b) for b in range(8)]


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_runs_one_aggregate_job(spark, tmp_path):
    """A fresh commit runs the aggregate and the ledger write, nothing
    else (a missing ledger costs no job). A rerun over a fully committed
    ledger runs the keys read and the aggregate, and appends nothing."""
    from anomaly_detection_spark.session import local_frame

    df = spark.range(40).select(
        (F.col("id") % 4).alias("bucket"),
        F.col("id").cast("double").alias("v"), F.lit(1).alias("c_ok"))
    ledger = AuditLedger(spark, str(tmp_path / "audit_jobs"))
    kw = dict(partition_col="bucket", value_col="v", code_cols=["c_ok"],
              ledger=ledger)
    keys = F.col("bucket").cast("string")
    agg = _jobs(spark, lambda: df.groupBy(keys).count().collect())
    write = _jobs(spark, lambda: AuditLedger(
        spark, str(tmp_path / "other")).append(local_frame(
            spark, [("0", "r", 0.0, 1, 1, 0, 0.0, 0.0, 0, 0, 0, "pass", 0.0)],
            AUDIT_SCHEMA).coalesce(1)))
    assert _jobs(spark, lambda: run_partitioned_checks(spark, df, **kw)) \
        == agg + write

    files = sorted(glob.glob(str(tmp_path / "audit_jobs" / "*.parquet")))
    read_keys = _jobs(spark, ledger.committed_keys)
    empty_agg = _jobs(spark, lambda: df.filter(
        ~keys.isin(["0", "1", "2", "3"])).groupBy(keys).count().collect())
    assert _jobs(spark, lambda: run_partitioned_checks(spark, df, **kw)) \
        == read_keys + empty_agg
    assert sorted(glob.glob(str(tmp_path / "audit_jobs" / "*.parquet"))) \
        == files


def test_cli_resume_on_catalog_layout(spark, tmp_path, capsys):
    """``run.py --audit`` over a catalog layout keys on its bucket column:
    the first run commits every bucket, the rerun validates nothing."""
    from anomaly_detection_spark.run import main

    layout = str(tmp_path / "corpus_cli")
    write_partitioned(generate_code_corpus(spark, 3000), layout, n_buckets=8)
    argv = ["--input", layout, "--audit", str(tmp_path / "audit_cli"),
            "--json"]

    def run() -> dict:
        assert main(argv) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    first, second = run(), run()
    assert first["rows"] == 3000 and first["partitions_done"] == 8
    assert second["rows"] == 0 and second["partitions_done"] == 0
