"""Session defaults are derived from the host, never a fixed 32-core /
16g shape (computed without starting a session), and every frame the
engine builds from driver-side values is a JVM-local relation."""

import math

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from anomaly_detection_spark.audit import AuditLedger, run_partitioned_checks
from anomaly_detection_spark.functions.curation import CurationConfig, curate
from anomaly_detection_spark.functions.similarity import ivf_topk, lsh_topk
from anomaly_detection_spark.operators.drift import ks_exact_tagged
from anomaly_detection_spark.operators.schema import (
    ColumnSpec, SchemaSpec, completeness_check,
)
from anomaly_detection_spark.session import (
    MAX_DRIVER_MB, local_frame, session_defaults,
)
from tests.conftest import plan_lines

GB = 2**30


def test_defaults_follow_the_host():
    assert session_defaults({}, cpu_count=4, phys_bytes=16 * GB) == (4, "8192m")
    assert session_defaults({}, cpu_count=2, phys_bytes=3 * GB) == (2, "1536m")


def test_driver_memory_is_capped():
    cores, mem = session_defaults({}, cpu_count=64, phys_bytes=512 * GB)
    assert (cores, mem) == (64, f"{MAX_DRIVER_MB}m")


def test_env_overrides_win():
    env = {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_DRIVER_MEM": "5g"}
    assert session_defaults(env, cpu_count=64,
                            phys_bytes=512 * GB) == (3, "5g")


def test_host_probe_is_sane():
    cores, mem = session_defaults({})
    assert cores >= 1
    assert 0 < int(mem.removesuffix("m")) <= MAX_DRIVER_MB


LOCAL_DDL = "k binary, ok boolean, n bigint, x double"


def test_local_frame_round_trips(spark):
    """Rows, schema and NaN values come back as given, empty or not."""
    empty = local_frame(spark, [], LOCAL_DDL)
    assert empty.schema == StructType.fromDDL(LOCAL_DDL)
    assert empty.collect() == []

    rows = [(b"\x00\x01", True, 2**40, float("nan")),
            (b"", None, -1, 1.5),
            (None, False, None, None)]
    df = local_frame(spark, rows, LOCAL_DDL)
    assert df.schema == StructType.fromDDL(LOCAL_DDL)
    got = df.collect()
    assert [(None if r.k is None else bytes(r.k), r.ok, r.n) for r in got] \
        == [r[:3] for r in rows]
    assert math.isnan(got[0].x) and got[1].x == 1.5 and got[2].x is None
    assert "LocalTableScan" in "\n".join(plan_lines(df))


def test_local_frame_refuses_lossy_values(spark):
    """A fractional float for a bigint field raises; it is not truncated."""
    with pytest.raises(pa.ArrowInvalid, match="truncated"):
        local_frame(spark, [(1.5,)], "t bigint")
    assert local_frame(spark, [(2.0,)], "t bigint").first().t == 2


def _audit_noop(spark, tmp_path):
    """The return of a second run over a fully committed ledger."""
    df = spark.range(40).select(
        (F.col("id") % 4).alias("bucket"),
        F.col("id").cast("double").alias("v"), F.lit(1).alias("c_ok"))
    ledger = AuditLedger(spark, str(tmp_path / "ledger"))
    kw = dict(partition_col="bucket", value_col="v", code_cols=["c_ok"],
              ledger=ledger)
    assert run_partitioned_checks(spark, df, **kw).count() == 4
    noop = run_partitioned_checks(spark, df, **kw)
    assert noop.count() == 0
    return noop


def _with_nulls(spark):
    return spark.range(4).select(
        F.when(F.col("id") > 0, F.col("id")).alias("a"))


def _tagged(spark, sides):
    return spark.range(20).select(F.col("id").cast("double").alias("v"),
                                  (F.col("id") % sides).cast("int").alias("s"))


def _report(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    _, report = curate(docs, config=CurationConfig(
        min_quality=0.3, allowed_langs=("en", "de", "fr", "es", "zh")))
    assert len(report.rows()) == 3
    return report.df()


def _corpus(spark):
    return spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(4)]).alias("embedding"))


NO_QUERIES = "query_id bigint, embedding array<double>"

ENGINE_FRAMES = {
    "audit_committed_missing": lambda spark, tmp, sf: AuditLedger(
        spark, str(tmp / "missing")).committed(),
    "audit_noop_return": lambda spark, tmp, sf: _audit_noop(spark, tmp),
    "completeness_empty_spec": lambda spark, tmp, sf: completeness_check(
        _with_nulls(spark), SchemaSpec([ColumnSpec("a", "bigint")])),
    "completeness_populated": lambda spark, tmp, sf: completeness_check(
        _with_nulls(spark),
        SchemaSpec([ColumnSpec("a", "bigint", max_null_rate=0.5)])),
    "ks_exact_nan": lambda spark, tmp, sf: ks_exact_tagged(
        _tagged(spark, 1)),
    "ks_exact_value": lambda spark, tmp, sf: ks_exact_tagged(
        _tagged(spark, 2)),
    "curation_report": lambda spark, tmp, sf: _report(spark, sf),
    "ivf_topk_no_queries": lambda spark, tmp, sf: ivf_topk(
        _corpus(spark), local_frame(spark, [], NO_QUERIES), n_cells=4),
    "lsh_topk_no_queries": lambda spark, tmp, sf: lsh_topk(
        _corpus(spark), local_frame(spark, [], NO_QUERIES)),
}


@pytest.mark.parametrize("name", list(ENGINE_FRAMES))
def test_engine_frames_plan_no_python_rdd(spark, tmp_path, sf_dir_small,
                                          name):
    """A frame the engine builds from driver-side values plans a
    LocalTableScan: a PythonRDD (``Scan ExistingRDD``) would start Python
    workers on every action over it."""
    df = ENGINE_FRAMES[name](spark, tmp_path, sf_dir_small)
    plan = "\n".join(plan_lines(df))
    assert "ExistingRDD" not in plan, plan
