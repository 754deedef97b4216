"""Structured Streaming path: file-source stream through the constraint
suite with watermarked windowed aggregation; late-data drop semantics."""

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.operators.constraints import not_nan, value_in_set
from anomaly_detection_spark.streaming.stream import (
    run_foreach_batch,
    run_to_memory,
    stream_source,
    windowed_error_rates,
    with_constraint_codes,
)

SCHEMA = "event_id long, ts timestamp, event_type string, value double"


def _write_chunk(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_stream_constraint_windowing(spark, tmp_path):
    src = str(tmp_path / "in")
    base = 1_700_000_000
    rows1 = [
        (i, F.lit(None), "click", 1.0) for i in range(0)
    ]  # placeholder, real rows below
    import datetime as dt

    def ts(sec):
        return dt.datetime.utcfromtimestamp(base + sec)

    chunk1 = [
        (1, ts(0), "click", 1.0),
        (2, ts(10), "view", float("nan")),   # bad value
        (3, ts(20), "bogus", 2.0),           # domain error
        (4, ts(65), "click", 3.0),
    ]
    _write_chunk(spark, src, chunk1)

    stream = stream_source(spark, path=src, schema=SCHEMA)
    assert stream.isStreaming
    checked = with_constraint_codes(stream, {
        "c_value": not_nan(F.col("value")),
        "c_domain": value_in_set(F.col("event_type"),
                                 ["click", "view", "purchase", "signup"]),
    })
    result = windowed_error_rates(
        checked, ts_col="ts", code_cols=["c_value", "c_domain"],
        window="1 minute", watermark="2 minutes",
    )
    q = run_to_memory(result, "verdicts", mode="append")
    try:
        q.processAllAvailable()
        # second chunk advances the watermark far enough to close windows
        chunk2 = [(5, ts(600), "view", 4.0), (6, ts(660), "click", 5.0)]
        _write_chunk(spark, src, chunk2)
        q.processAllAvailable()
        got = {
            r["win_start"].strftime("%H:%M:%S"): (r["n"], r["n_error"])
            for r in spark.sql("SELECT * FROM verdicts").collect()
        }
    finally:
        q.stop()
    # first minute-aligned window (22:13:00): 3 rows, 1 domain error
    # (code -1); the NaN row is Undefined(2), not an error
    w1 = [v for k, v in got.items() if k.endswith("13:00")]
    assert w1 and w1[0] == (3, 1)


def test_stream_foreach_batch_checkpoint(spark, tmp_path):
    src = str(tmp_path / "in2")
    ckpt = str(tmp_path / "ckpt")
    import datetime as dt

    rows = [(i, dt.datetime(2024, 1, 1, 0, 0, i), "click", float(i))
            for i in range(20)]
    _write_chunk(spark, src, rows)
    stream = stream_source(spark, path=src, schema=SCHEMA)
    checked = with_constraint_codes(stream, {
        "c_value": not_nan(F.col("value")),
    })
    seen = []
    q = run_foreach_batch(
        checked, lambda df, epoch: seen.append((epoch, df.count())), ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(n for _, n in seen) == 20


def test_stateful_ema_across_microbatches(spark, tmp_path):
    """EMA state must carry across micro-batches and equal the batch
    operator's output on the concatenated series."""
    import pandas as pd
    from anomaly_detection_spark.streaming.stateful import streaming_ema_check

    src = str(tmp_path / "ema_in")
    schema = "key string, order double, value double"
    vals1 = [10.0, 12.0, 11.0, 13.0]
    vals2 = [150.0, 12.0, 11.0]
    spark.createDataFrame(
        [("k", float(i), v) for i, v in enumerate(vals1)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_ema_check(stream, N=3, LL=0.0, UL=40.0,
                              warning_stages=(0.9,))
    q = (out.writeStream.format("memory").queryName("ema_state")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [("k", float(len(vals1) + i), v) for i, v in enumerate(vals2)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {r["order"]: (r["ema"], r["code"]) for r in
               spark.sql("SELECT * FROM ema_state").collect()}
    finally:
        q.stop()

    all_vals = vals1 + vals2
    expect = pd.Series(all_vals).ewm(alpha=0.5, adjust=False).mean()
    assert len(got) == len(all_vals)
    for i in range(len(all_vals)):
        ema, code = got[float(i)]
        assert ema == pytest.approx(expect[i], rel=1e-9), i
    # the 150.0 spike (index 4): EMA = (12+150)/2 = 81 > UL=40 -> error
    assert got[4.0][1] == -1
    assert got[0.0][1] in (0, 1)


def test_stateful_welford_across_microbatches(spark, tmp_path):
    """Welford state (count/mean/M2) must carry across micro-batches and
    equal the batch operator on the concatenated series."""
    from anomaly_detection_spark.operators.windowed import welford_streaming
    from anomaly_detection_spark.streaming.stateful import (
        streaming_welford_check,
    )

    src = str(tmp_path / "wf_in")
    schema = "key string, order double, value double"
    vals1 = [10.0, 12.0, 11.0, 13.0, 12.0]
    vals2 = [11.0, 80.0, 12.0]
    spark.createDataFrame(
        [("k", float(i), v) for i, v in enumerate(vals1)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_welford_check(stream, X=3.0)
    q = (out.writeStream.format("memory").queryName("wf_state")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [("k", float(len(vals1) + i), v) for i, v in enumerate(vals2)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {r["order"]: r["code"] for r in
               spark.sql("SELECT * FROM wf_state").collect()}
    finally:
        q.stop()

    all_vals = vals1 + vals2
    batch_df = spark.createDataFrame(
        [("k", float(i), v) for i, v in enumerate(all_vals)],
        "series string, ts double, value double",
    )
    expect = {float(i): c for i, c in enumerate(
        [r["code"] for r in welford_streaming(
            batch_df, "series", "ts", "value", X=3.0
        ).orderBy("ts").collect()]
    )}
    assert got == expect
    assert got[6.0] == -1  # the 80.0 spike, scored with cross-batch state


def test_stateful_gan_across_microbatches(spark, tmp_path):
    """The GAN error-window state must carry across micro-batches: the
    streamed (recon_err, code) sequence equals the full-sequence
    recurrence (ewm_threshold over all errors) computed locally with the
    same pre-trained model, split points landing mid-window."""
    import numpy as np
    from anomaly_detection_spark.operators.neural import (
        ewm_threshold, fit_autoencoder, mlp_predict,
    )
    from anomaly_detection_spark.streaming.stateful import (
        streaming_gan_check,
    )

    rng = np.random.default_rng(17)
    v = rng.normal(10.0, 0.5, 30)
    X = np.stack([v, v * 0.9 + rng.normal(0, 0.05, 30)], axis=1)
    X[22] = (60.0, 1.0)  # gross spike in batch 2
    mn, mx = float(X.min()), float(X.max())
    av = (mn + mx) / 2.0
    weights, acts, _ = fit_autoencoder((X - av) / (mx - mn), 1, seed=0)
    model = (mn, mx, av, weights, acts)
    K, lw = 4.0, 8

    src = str(tmp_path / "gan_in")
    schema = "key string, order double, value double, f2 double"
    rows = [("k", float(i), float(X[i, 0]), float(X[i, 1]))
            for i in range(len(X))]
    spark.createDataFrame(rows[:13], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_gan_check(stream, ["value", "f2"], model=model,
                              K=K, len_window=lw)
    q = (out.writeStream.format("memory").queryName("gan_state")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows[13:], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {r["order"]: (r["recon_err"], r["code"]) for r in
               spark.sql("SELECT * FROM gan_state").collect()}
    finally:
        q.stop()

    Xn = (X - av) / (mx - mn)
    err = ((mlp_predict(weights, acts, Xn) - Xn) ** 2).mean(axis=1)
    thr = ewm_threshold(err, K, lw)
    assert len(got) == len(X)
    for i in range(len(X)):
        assert got[float(i)][0] == pytest.approx(err[i], rel=1e-12), i
        assert got[float(i)][1] == (-1 if err[i] >= thr[i] else 1), i
    assert got[22.0][1] == -1


def test_stateful_trend_nn_across_microbatches(spark, tmp_path):
    """The trend recurrence tails (raw / rolling-mean / prediction
    windows) must carry across micro-batches: streamed codes equal the
    batch trend_nn_check on the concatenated series, with both split
    points inside warm-up and mid-stream."""
    import numpy as np
    from anomaly_detection_spark.operators.neural import trend_nn_check
    from anomaly_detection_spark.streaming.stateful import (
        streaming_trend_nn_check,
    )

    vals = [0.025 * i for i in range(20)] + \
           [0.5 - 0.02 * i for i in range(20)]
    kw = dict(N=10, averaging=3, prediction_conv=3, amp_scale=0.1,
              warning_stages=(0.5,), seed=0)

    src = str(tmp_path / "trend_in")
    schema = "key string, order double, value double"
    rows = [("k", float(i), float(v)) for i, v in enumerate(vals)]
    spark.createDataFrame(rows[:7], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_trend_nn_check(stream, **kw)
    q = (out.writeStream.format("memory").queryName("trend_state")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows[7:25], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        spark.createDataFrame(rows[25:], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {r["order"]: (r["trend_value"], r["code"]) for r in
               spark.sql("SELECT * FROM trend_state").collect()}
    finally:
        q.stop()

    df = spark.createDataFrame(rows, schema)
    batch = trend_nn_check(spark, df, "key", "order", "value", **kw) \
        .toPandas().sort_values("order")
    assert len(got) == len(vals)
    for _, r in batch.iterrows():
        tv, code = got[r["order"]]
        assert code == r["code"], r["order"]
        if np.isnan(r["trend_value"]):
            assert tv is None or np.isnan(tv), r["order"]
        else:
            assert tv == pytest.approx(r["trend_value"], rel=1e-12)


def test_stateful_gan_restart_from_checkpoint(spark, tmp_path):
    """A STOPPED query restarted on the same checkpointLocation must
    resume the GAN error-window state from Spark's state store (every
    state fn docstring claims this; here it is exercised end-to-end):
    the two runs' combined output equals the unbroken full-sequence
    recurrence."""
    import numpy as np
    from anomaly_detection_spark.operators.neural import (
        ewm_threshold, fit_autoencoder, mlp_predict,
    )
    from anomaly_detection_spark.streaming.stateful import (
        streaming_gan_check,
    )

    rng = np.random.default_rng(23)
    v = rng.normal(5.0, 0.3, 24)
    X = np.stack([v, v * 1.1 + rng.normal(0, 0.05, 24)], axis=1)
    X[20] = (40.0, 0.5)
    mn, mx = float(X.min()), float(X.max())
    av = (mn + mx) / 2.0
    weights, acts, _ = fit_autoencoder((X - av) / (mx - mn), 1, seed=1)
    model = (mn, mx, av, weights, acts)
    # len_window >= 8: the current error's tail weight share w must keep
    # K*w < 1 or a lone spike can never beat its own-inclusive threshold
    # (gan.py includes the current error in the window)
    K, lw = 4.0, 8

    src = str(tmp_path / "gan_ck_in")
    out_dir = str(tmp_path / "gan_ck_out")
    ck = str(tmp_path / "gan_ck_state")
    schema = "key string, order double, value double, f2 double"
    rows = [("k", float(i), float(X[i, 0]), float(X[i, 1]))
            for i in range(len(X))]

    def run_query():
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_gan_check(stream, ["value", "f2"], model=model,
                                  K=K, len_window=lw)
        return (out.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ck)
                .outputMode("append").start())

    spark.createDataFrame(rows[:11], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q = run_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spark.createDataFrame(rows[11:], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q = run_query()  # NEW query object, same checkpoint -> state resumes
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["order"]: (r["recon_err"], r["code"])
           for r in spark.read.parquet(out_dir).collect()}
    Xn = (X - av) / (mx - mn)
    err = ((mlp_predict(weights, acts, Xn) - Xn) ** 2).mean(axis=1)
    thr = ewm_threshold(err, K, lw)
    assert len(got) == len(X)
    for i in range(len(X)):
        assert got[float(i)][0] == pytest.approx(err[i], rel=1e-12), i
        assert got[float(i)][1] == (-1 if err[i] >= thr[i] else 1), i
    assert got[20.0][1] == -1


def test_stateful_trend_restart_from_checkpoint(spark, tmp_path):
    """Same stop/restart-on-checkpoint exercise for the trend state fn:
    the two runs' combined output must equal the batch operator on the
    concatenated series (restart lands mid-recurrence, after warm-up)."""
    import numpy as np
    from anomaly_detection_spark.operators.neural import trend_nn_check
    from anomaly_detection_spark.streaming.stateful import (
        streaming_trend_nn_check,
    )

    vals = [0.025 * i for i in range(18)] + \
           [0.45 - 0.02 * i for i in range(14)]
    kw = dict(N=10, averaging=3, prediction_conv=3, amp_scale=0.1,
              warning_stages=(0.5,), seed=0)
    src = str(tmp_path / "trend_ck_in")
    out_dir = str(tmp_path / "trend_ck_out")
    ck = str(tmp_path / "trend_ck_state")
    schema = "key string, order double, value double"
    rows = [("k", float(i), float(v)) for i, v in enumerate(vals)]

    def run_query():
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_trend_nn_check(stream, **kw)
        return (out.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ck)
                .outputMode("append").start())

    spark.createDataFrame(rows[:15], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q = run_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark.createDataFrame(rows[15:], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    q = run_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["order"]: (r["trend_value"], r["code"])
           for r in spark.read.parquet(out_dir).collect()}
    batch = trend_nn_check(
        spark, spark.createDataFrame(rows, schema),
        "key", "order", "value", **kw).toPandas().sort_values("order")
    assert len(got) == len(vals)
    for _, r in batch.iterrows():
        tv, code = got[r["order"]]
        assert code == r["code"], r["order"]
        if np.isnan(r["trend_value"]):
            assert tv is None or np.isnan(tv)
        else:
            assert tv == pytest.approx(r["trend_value"], rel=1e-12)


def test_stateful_prophet_across_microbatches(spark, tmp_path):
    """The streaming fb_Prophet loop must equal the batch
    forecast_retrain_check on the concatenated series for BOTH batch
    execution regimes (epoch-parallel R=10 and sequential R=1), with
    splits inside warm-up and mid-epoch."""
    import numpy as np
    from anomaly_detection_spark.operators.forecast import (
        forecast_retrain_check,
    )
    from anomaly_detection_spark.streaming.stateful import (
        streaming_forecast_retrain_check,
    )

    rng = np.random.default_rng(47)
    n, period = 120, 24.0
    t = np.arange(n, dtype=float)
    y = 10.0 + 0.03 * t + 2.0 * np.sin(2 * np.pi * t / period) \
        + rng.normal(0, 0.15, n)
    y[90] += 5.0
    rows = [("k", float(i), float(v)) for i, v in enumerate(y)]
    schema = "key string, order double, value double"

    for R, tag in ((10, "ep"), (1, "seq")):
        kw = dict(min_samples=40, max_samples=60, retrain_interval=R,
                  period=period, harmonics=2, uncertainty_interval=0.99)
        src = str(tmp_path / f"pr_in_{tag}")
        spark.createDataFrame(rows[:25], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_forecast_retrain_check(stream, **kw)
        q = (out.writeStream.format("memory").queryName(f"pr_{tag}")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            spark.createDataFrame(rows[25:73], schema) \
                .coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            spark.createDataFrame(rows[73:], schema) \
                .coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
            got = {r["order"]: (r["yhat"], r["code"]) for r in
                   spark.sql(f"SELECT * FROM pr_{tag}").collect()}
        finally:
            q.stop()

        batch = forecast_retrain_check(
            spark.createDataFrame(rows, schema),
            "key", "order", "value", **kw,
        )
        bp = batch.toPandas().sort_values("order")
        assert len(got) == n
        for _, r in bp.iterrows():
            yh, code = got[r["order"]]
            assert code == r["code"], (tag, r["order"])
            if np.isnan(r["yhat"]):
                assert yh is None or np.isnan(yh), (tag, r["order"])
            else:
                assert yh == pytest.approx(r["yhat"], rel=1e-9), \
                    (tag, r["order"])
        assert got[90.0][1] == -1


# two series of 14 rows; file 1 holds each series' first 8 rows
_RESTART_ROWS = [
    (key, float(i),
     float(10.0 + 3.0 * np.sin(i + off) + (30.0 if i == 11 else 0.0)),
     float(9.0 + 2.0 * np.cos(i + off)))
    for key, off in (("a", 0.0), ("b", 1.5)) for i in range(14)
]


def _restart_cases():
    """name -> (stream_df -> verdict stream), one per stateful check."""
    from anomaly_detection_spark.operators.neural import fit_autoencoder
    from anomaly_detection_spark.streaming import stateful as st

    X = np.array([[v, f] for _, _, v, f in _RESTART_ROWS])
    mn, mx = float(X.min()), float(X.max())
    av = (mn + mx) / 2.0
    weights, acts, _ = fit_autoencoder((X - av) / (mx - mn), 1, seed=0)
    feats = ["value", "f2"]
    return {
        "ema": lambda s: st.streaming_ema_check(
            s, N=3, LL=0.0, UL=20.0, warning_stages=(0.9,)),
        "welford": lambda s: st.streaming_welford_check(
            s, X=2.0, warning_stages=(0.8,)),
        "clustering": lambda s: st.streaming_clustering_retrain(
            s, feats, eps=1.5, min_samples=2, treshold=1.0,
            retrain_interval=3, samples_for_retrain=5),
        "rrcf": lambda s: st.streaming_rrcf_check(
            s, feats, num_trees=4, tree_size=6, threshold=2.0),
        "gan": lambda s: st.streaming_gan_check(
            s, feats, model=(mn, mx, av, weights, acts), K=4.0,
            len_window=8),
        "trend": lambda s: st.streaming_trend_nn_check(
            s, N=4, averaging=2, prediction_conv=2, amp_scale=0.5,
            num_samples=200),
        "prophet": lambda s: st.streaming_forecast_retrain_check(
            s, min_samples=6, max_samples=8, retrain_interval=2,
            period=6.0, harmonics=1),
    }


@pytest.mark.parametrize("check", ["ema", "welford", "clustering", "rrcf",
                                   "gan", "trend", "prophet"])
def test_stateful_restart_equals_unbroken_query(spark, tmp_path, check):
    """Every stateful check resumes its per-key state from the
    checkpoint: a query stopped after file 1 and restarted on the same
    checkpointLocation for file 2 writes exactly what one unbroken query
    writes for the same two micro-batches, and the same verdicts as one
    micro-batch over both files (so the state really carried)."""
    import pandas as pd

    build = _restart_cases()[check]
    schema = "key string, order double, value double, f2 double"

    def write(src, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    def run(tag, files):
        """One query over tag's input; each file is written, then
        processed as its own micro-batch."""
        src = str(tmp_path / f"{tag}_in")
        write(src, files[0])
        q = (build(spark.readStream.schema(schema).parquet(src))
             .writeStream.format("parquet")
             .option("path", str(tmp_path / f"{tag}_out"))
             .option("checkpointLocation", str(tmp_path / f"{tag}_ck"))
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            for rows in files[1:]:
                write(src, rows)
                q.processAllAvailable()
        finally:
            q.stop()

    def output(tag):
        return spark.read.parquet(str(tmp_path / f"{tag}_out")).toPandas() \
            .sort_values(["key", "order"]).reset_index(drop=True)

    first = [r for r in _RESTART_ROWS if r[1] < 8]
    second = [r for r in _RESTART_ROWS if r[1] >= 8]
    run("restart", [first])
    run("restart", [second])  # new query, same checkpoint: state resumes
    run("ref", [first, second])
    run("whole", [first + second])

    got, want, whole = output("restart"), output("ref"), output("whole")
    assert len(want) == len(_RESTART_ROWS)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert got["code"].tolist() == whole["code"].tolist()
    pd.testing.assert_frame_equal(got, whole, rtol=1e-9)
    assert (got["code"] != 2).any(), "state never left warm-up"
