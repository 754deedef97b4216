import numpy as np
import pytest

from anomaly_detection_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir_small():
    """Smallest driver-generated parquet scale factor (real corpus
    slices for tests that want actual documents rather than hand-built
    rows)."""
    return "/root/testdata/sf0.001"


def series_df(spark, values, key="k1", start_ts=1459926000.0, step=3600.0):
    """One series as (series, ts, value) rows — mirrors the reference's
    create_message loop (/root/reference/src/unit_tests.py:60-66)."""
    rows = [(key, start_ts + i * step, float(v)) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "series string, ts double, value double")


def codes_of(df, order="ts", col="code"):
    return [r[col] for r in df.orderBy(order).collect()]


def plan_lines(df):
    """``df``'s physical plan as planned, one operator per line, before
    adaptive execution could reuse any exchange."""
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def plan_counts(df):
    """(FileScans, non-reused Exchanges) of ``df``'s planned physical plan."""
    plan = plan_lines(df)
    scans = sum("FileScan" in line for line in plan)
    exchanges = sum("Exchange" in line and "ReusedExchange" not in line
                    for line in plan)
    return scans, exchanges


def moments(v):
    """(count, mean, M2) of a batch, straight from numpy — the Welford
    state the streaming detector folds with ``stateful.welford_merge``."""
    v = np.asarray(v, dtype=np.float64)
    if v.size == 0:
        return (0.0, 0.0, 0.0)
    return (float(v.size), float(v.mean()), float(((v - v.mean()) ** 2).sum()))
