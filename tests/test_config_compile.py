"""Reference-shape JSON config -> compiled check suite. Config dicts here
use the same schema as the reference's configuration/*.json (algorithm
name strings + parameter dicts, README.md:68-92) but are authored
fresh — no data copied."""

import pytest

from anomaly_detection_spark.config import (
    UnsupportedAlgorithm,
    compile_config,
    compile_detector,
)
from tests.conftest import plan_counts, series_df


def test_border_config_ladder(spark):
    cfg = {
        "anomaly_detection_alg": ["BorderCheck()"],
        "anomaly_detection_conf": [{
            "input_vector_size": 1,
            "warning_stages": [0.9],
            "UL": 4.0, "LL": 0.0,
        }],
    }
    df = series_df(spark, [2.0, 3.9, 4.5, -1.0, 2.0])
    out = compile_config(cfg)(df).orderBy("ts").collect()
    assert [r["code_0_bordercheck"] for r in out] == [1, 0, -1, -1, 1]
    assert [r["status_code"] for r in out] == [1, 0, -1, -1, 1]


def test_multi_detector_or_combination(spark):
    cfg = {
        "anomaly_detection_alg": ["BorderCheck()", "Welford()"],
        "anomaly_detection_conf": [
            {"warning_stages": [], "UL": 100.0, "LL": 0.0},
            {"warning_stages": [], "N": 3, "X": 2.0},
        ],
    }
    vals = [10.0, 11, 10, 12, 11, 10, 80, 11]  # 80 in border but a z-outlier
    df = series_df(spark, vals)
    out = compile_config(cfg)(df).orderBy("ts").collect()
    border = [r["code_0_bordercheck"] for r in out]
    welford = [r["code_1_welford"] for r in out]
    combined = [r["status_code"] for r in out]
    assert border == [1] * 8                      # all inside [0, 100]
    assert welford[:3] == [2, 2, 2] and welford[6] == -1
    assert combined[6] == -1                       # OR: any error wins
    assert combined[0] == 1                        # Undefined doesn't win min


def test_sequential_detectors_from_config(spark):
    vals = [10.0, 12, 11, 13, 12, 11, 10, 12, 11, 13]
    df = series_df(spark, vals)
    for alg, conf in [
        ("EMA()", {"N": 3, "LL": 0.0, "UL": 40.0, "warning_stages": [0.9]}),
        ("MACD()", {"period1": 2, "period2": 5, "LL": -10.0, "UL": 10.0,
                    "warning_stages": []}),
        ("Cumulative()", {"averaging": 3, "decay": 0.1,
                          "warning_stages": [0.5]}),
        ("Hampel()", {"W": 2, "n_sigmas": 3.0, "K": 1.4826}),
        ("LinearFit()", {"N": 4, "LL": -5.0, "UL": 5.0,
                         "warning_stages": []}),
        ("Filtering()", {"filter_order": 3, "cutoff_frequency": 0.4,
                         "mode": 0, "LL": 0.0, "UL": 40.0,
                         "warning_stages": []}),
    ]:
        t = compile_detector(alg, conf, keys="series", order="ts",
                             value="value")
        out = t(df)
        assert out.count() == len(vals), alg
        assert "code" in out.columns, alg


def test_unsupported_algorithms_raise(spark):
    with pytest.raises(UnsupportedAlgorithm):
        compile_detector("NoSuchDetector()", {}, keys="series", order="ts",
                         value="value")


def test_prophet_config_compiles(spark):
    """fb_Prophet configs compile to the full detector loop
    (forecast_retrain_check): min_samples warm-up Undefined, trailing
    max_samples retrain memory, interval verdicts from
    uncertainty_interval."""
    import numpy as np

    rng = np.random.default_rng(3)
    n = 90
    vals = [float(10 + 2 * np.sin(i / 4.0) + rng.normal(0, 0.1))
            for i in range(n)]
    vals[70] += 8.0
    df = series_df(spark, vals, step=3600.0)
    cfg = {
        "anomaly_detection_alg": ["fb_Prophet()"],
        "anomaly_detection_conf": [{
            "uncertainty_interval": 0.99,
            "min_samples": 40, "max_samples": 50,
            "retrain_interval": 5,
            "forecast_horizons": [10, "H"],
            # engine seasonality knob (Prophet infers its own)
            "period": 3600.0 * 8 * np.pi,
        }],
    }
    out = compile_config(cfg)(df).orderBy("ts").collect()
    codes = [r["status_code"] for r in out]
    assert len(codes) == n
    assert all(c == 2 for c in codes[:40])
    assert codes[70] == -1
    assert codes[40:].count(-1) <= 3


def test_model_backed_algorithms_compile(spark):
    """GAN / Trend_Classification / RRCF_trees configs compile to the
    hand-rolled-net operators (round-4 graduation): every row gets a
    verdict, warm-up rows rejoin as Undefined."""
    import json

    vals = [1.0, 1.2, 0.9, 1.1, 1.0, 1.3, 0.8, 1.05, 1.0, 1.1,
            1.2, 0.95, 1.0, 1.15, 0.9, 1.0]
    df = series_df(spark, vals)
    cfg = {
        "anomaly_detection_alg": [
            "GAN()", "Trend_Classification()", "RRCF_trees()"],
        "anomaly_detection_conf": [
            {"train_conf": {"N_shifts": 2, "N_latent": 1, "K": 3.0,
                            "len_window": 5}},
            {"N": 4, "averaging": 2, "prediction_conv": 2,
             "amp_scale": 1.0, "warning_stages": [0.5],
             "num_samples": 200, "train_noise": 0.05},
            {"num_trees": 4, "tree_size": 8, "threshold": 10.0},
        ],
    }
    out = compile_config(cfg)(df).orderBy("ts").collect()
    assert len(out) == len(vals)
    codes = {c: [r[c] for r in out]
             for c in ("code_0_gan", "code_1_trend_classification",
                       "code_2_rrcf_trees", "status_code")}
    for c, seq in codes.items():
        assert all(v in (-1, 0, 1, 2) for v in seq), (c, seq)
    # GAN's 2 shift rows rejoin as Undefined
    assert codes["code_0_gan"][:2] == [2, 2]
    assert set(codes["code_0_gan"][2:]) <= {-1, 1}
    # trend warm-up: N + conv - 2 = 4 rows undefined
    assert codes["code_1_trend_classification"][:4] == [2, 2, 2, 2]
    # config round-trips through JSON (the reference's file shape)
    assert json.loads(json.dumps(cfg)) == cfg


def test_config_from_file(spark, tmp_path):
    import json

    p = tmp_path / "suite.json"
    p.write_text(json.dumps({
        "anomaly_detection_alg": ["BorderCheck()"],
        "anomaly_detection_conf": [{"UL": 1.0, "LL": -1.0,
                                    "warning_stages": []}],
    }))
    df = series_df(spark, [0.0, 2.0])
    out = compile_config(str(p))(df).orderBy("ts").collect()
    assert [r["status_code"] for r in out] == [1, -1]


def test_reference_csv_source_end_to_end(spark, tmp_path):
    """CSV in the reference's file format -> source reader -> config-
    compiled suite -> verdicts: the full 'switch your pipeline over' path."""
    from anomaly_detection_spark.sources.files import read_reference_csv

    p = tmp_path / "series.csv"
    lines = ["timestamp,value,label,labelInfo"]
    base = 1459926000
    vals = [1.0, 1.0, 1.0, 1.0, 5.0, 1.0]
    for i, v in enumerate(vals):
        lines.append(f"{base + i * 3600},{v},0,")
    p.write_text("\n".join(lines) + "\n")

    df = read_reference_csv(spark, str(p))
    assert df.columns == ["series", "ts", "ftr_vector", "value"]
    assert df.count() == len(vals)
    # label columns are gone; ms-vs-s promotion gives sane years
    years = [r["y"] for r in df.selectExpr("year(ts) AS y").collect()]
    assert all(y == 2016 for y in years)

    cfg = {
        "anomaly_detection_alg": ["BorderCheck()"],
        "anomaly_detection_conf": [{"UL": 4.0, "LL": 0.0,
                                    "warning_stages": [0.9]}],
    }
    out = compile_config(cfg)(df).orderBy("ts").collect()
    assert [r["status_code"] for r in out] == [1, 1, 1, 1, -1, 1]


def test_reference_json_source(spark, tmp_path):
    import json

    from anomaly_detection_spark.sources.files import read_reference_json

    p = tmp_path / "series.json"
    p.write_text(json.dumps({"data": [
        {"timestamp": 1459926000, "ftr_vector": [1.0, 2.0]},
        {"timestamp": 1459926000123.0, "ftr_vector": [3.0, 4.0]},  # ms
    ]}))
    df = read_reference_json(spark, str(p)).orderBy("ts").collect()
    assert [r["value"] for r in df] == [1.0, 3.0]
    assert [len(r["ftr_vector"]) for r in df] == [2, 2]
    # ms timestamp promoted to the same wall-clock second
    assert abs((df[1]["ts"] - df[0]["ts"]).total_seconds()) < 1.0


def test_cli_config_mode(spark, tmp_path, capsys):
    """python -m anomaly_detection_spark.run --config ... --data ... ==
    the reference's `main.py -f -c conf.json` workflow."""
    import json as _json

    from anomaly_detection_spark.run import main

    cfg = tmp_path / "suite.json"
    cfg.write_text(_json.dumps({
        "anomaly_detection_alg": ["BorderCheck()"],
        "anomaly_detection_conf": [{"UL": 4.0, "LL": 0.0,
                                    "warning_stages": []}],
    }))
    data = tmp_path / "s.csv"
    lines = ["timestamp,value,label,labelInfo"]
    for i, (v, l) in enumerate([(1.0, 0), (1.1, 0), (9.0, 1), (0.9, 0)]):
        lines.append(f"{1459926000 + i * 60},{v},{l},")
    data.write_text("\n".join(lines) + "\n")
    out = tmp_path / "verdicts"

    rc = main(["--config", str(cfg), "--data", str(data),
               "--evaluate", "label", "--output", str(out), "--json"])
    assert rc == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == 4 and res["errors"] == 1 and res["f1"] == 1.0
    import glob
    assert glob.glob(str(out) + "/*.parquet")


def test_time_filter_config(spark):
    """The reference's per-detector `filtering` key (consumer.py:184-191):
    out-of-window rows are never inserted into the detector — they carry
    Undefined, and the detector's recurrence advances only on in-window
    rows."""
    import datetime as dt

    cfg = {
        "anomaly_detection_alg": ["BorderCheck()"],
        "anomaly_detection_conf": [{
            "warning_stages": [], "UL": 4.0, "LL": 0.0,
        }],
        # string form, exactly as the reference configs carry it
        "filtering": ["[(12, 0, 0), (1, 0, 0)]"],
    }
    rows = [("k", dt.datetime(2024, 5, 1, h, m, 0), v) for h, m, v in
            [(11, 30, 9.0), (12, 0, 9.0), (3, 0, 2.0), (12, 5, 2.0)]]
    df = spark.createDataFrame(rows, "series string, ts timestamp, value double")
    out = {(r["ts"].hour, r["value"]): r["code_0_bordercheck"]
           for r in compile_config(cfg)(df).collect()}
    # 11:30 within 1h of noon -> checked (9.0 > UL -> -1); 03:00 filtered
    # (11:00 sharp would ALSO be filtered: the reference compares strictly)
    assert out[(11, 9.0)] == -1
    assert out[(12, 9.0)] == -1
    assert out[(12, 2.0)] == 1
    assert out[(3, 2.0)] == 2  # never inserted -> Undefined


def test_retrain_config_routes_to_retrain_operators(spark):
    """retrain_interval in an IsolationForest config selects the rolling
    retrain operator (warm-up Undefined until the first fire)."""
    import numpy as np

    cfg = {
        "anomaly_detection_alg": ["IsolationForest()"],
        "anomaly_detection_conf": [{
            "retrain_interval": 20, "samples_for_retrain": 40,
        }],
    }
    rng = np.random.default_rng(1)
    vals = [float(v) for v in rng.normal(10, 1, 120)]
    df = series_df(spark, vals)
    out = compile_config(cfg)(df).orderBy("ts").collect()
    codes = [r["code_0_isolationforest"] for r in out]
    assert all(c == 2 for c in codes[:40])       # before first fire
    assert all(c in (-1, 1) for c in codes[40:])  # scored afterwards


def test_clustering_retrain_config_reproduces_reference_flip(spark, tmp_path):
    """The reference's OWN clustering unit-test configuration — train
    file + eps/min_samples/treshold + R=S=10 (unit_tests.py:778-792) —
    fed through compile_config reproduces the retrain-flip status
    sequence element-exact."""
    import csv

    train = [
        [10.3, 10.44], [9.8, 11.3], [15.433, 16.4], [0, 0.2],
        [0.2, 0.234], [0.3, 0.12], [0.11, 0.0456], [0.01, 0.07996],
        [1.3, 0.211], [1, 1.65], [1.2, 1.22], [1.332, 1.03],
        [1.222, 1.01], [1.554, 1.44],
    ]
    train_path = str(tmp_path / "ClusteringTestData.csv")
    with open(train_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["timestamp", "ftr_vector"])
        for i, v in enumerate(train):
            w.writerow([1459926000 + 3600 * i, str(v)])

    cfg = {
        "anomaly_detection_alg": ["Clustering()"],
        "anomaly_detection_conf": [{
            "train_data": train_path,
            "eps": 0.98, "min_samples": 3, "treshold": 1.5,
            "retrain_interval": 10, "samples_for_retrain": 10,
            "features": ["f1", "f2"],
        }],
    }
    test_array = [
        [10, 20.96], [10.0, 1.0], [10.4, 21.1], [0.2, 0.9],
        [10.4, 20.098], [9.99, 20.44], [9.988, 20.656], [10.443, 21],
        [10.454, 20.546], [9.995, 20.99], [10.005, 20.3425],
        [10.1295, 20.456], [1.0, 0.9],
    ]
    expected = [-1, -1, -1, 1, -1, -1, -1, -1, -1, -1, 1, 1, -1]
    rows = [("k", float(1459926000 + 3600 * i), float(v[0]), float(v[1]))
            for i, v in enumerate(test_array)]
    df = spark.createDataFrame(
        rows, "series string, ts double, f1 double, f2 double")
    out = compile_config(cfg)(df).orderBy("ts").collect()
    assert [r["code_0_clustering"] for r in out] == expected
    assert [r["status_code"] for r in out] == expected


def test_cli_curate_mode(spark, tmp_path, capsys):
    """`python -m anomaly_detection_spark.run --curate`: the curation
    pipeline end-to-end through the CLI with per-stage accounting."""
    import json

    from anomaly_detection_spark.run import main

    out_dir = str(tmp_path / "curated")
    rc = main([
        "--curate", "--input", "/root/testdata/sf0.001/documents.parquet",
        "--output", out_dir, "--min-quality", "0.3", "--jaccard", "0.6",
        "--transitive", "--json",
    ])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    st = payload["stages"]
    assert set(st) == {"quality_lang_gate", "exact_dedup", "near_dedup"}
    assert st["quality_lang_gate"]["rows_in"] == 500
    kept = spark.read.parquet(out_dir).count()
    assert kept == st["near_dedup"]["rows_out"] > 0


def test_model_backed_config_fuzz(spark):
    """Engine-only fuzz over the model-backed compile branches (the
    reference side needs tensorflow / the rrcf package, unavailable and
    stubbed): seeded sampled GAN / Trend_Classification / RRCF_trees
    configs, optionally stacked with a classic detector, must compile,
    run, preserve every input row, and stay inside the code domain —
    including degenerate draws (N_shifts >= series length exercises
    gan_check's all-Undefined empty-train guard)."""
    import numpy as np

    rng = np.random.default_rng(77)
    for trial in range(9):
        n = int(rng.integers(12, 40))
        vals = [float(v) for v in np.cumsum(rng.normal(0, 1, n)) + 5.0]
        algs, confs = [], []
        pick = trial % 3
        if pick == 0:
            algs.append("GAN()")
            confs.append({"train_conf": {
                "N_shifts": int(rng.integers(1, 20)),
                "N_latent": int(rng.integers(1, 4)),
                "K": float(rng.uniform(2, 5)),
                "len_window": int(rng.integers(3, 12))}})
        elif pick == 1:
            algs.append("Trend_Classification()")
            confs.append({"N": int(rng.integers(4, 12)),
                          "averaging": int(rng.integers(1, 4)),
                          "prediction_conv": int(rng.integers(1, 4)),
                          "amp_scale": float(rng.uniform(0.05, 1.0)),
                          "warning_stages": [0.5],
                          "num_samples": 150, "train_noise": 0.05})
        else:
            algs.append("RRCF_trees()")
            confs.append({"num_trees": int(rng.integers(2, 6)),
                          "tree_size": int(rng.integers(4, 16)),
                          "threshold": float(rng.uniform(2, 20))})
        if rng.random() < 0.5:
            algs.append("BorderCheck()")
            confs.append({"UL": 50.0, "LL": -50.0,
                          "warning_stages": [0.5]})
        cfg = {"anomaly_detection_alg": algs,
               "anomaly_detection_conf": confs}
        out = compile_config(cfg)(series_df(spark, vals)).collect()
        assert len(out) == n, (trial, algs)
        for r in out:
            assert r["status_code"] in (-1, 0, 1, 2), (trial, algs, r)


# the first k of these run in the plan-shape tests: one detector per
# implementing layer (constraints, sequential, windowed, mvoutlier)
_PLAN_SUITE = [
    ("BorderCheck()", {"UL": 50.0, "LL": -10.0, "warning_stages": [0.9]}),
    ("EMA()", {"N": 5, "UL": 35.0, "LL": 5.0, "warning_stages": [0.9]}),
    ("Welford()", {"N": 30, "X": 6.0, "warning_stages": [0.8]}),
    ("IsolationForest()", {"max_samples": 256, "contamination": 0.005}),
]


@pytest.fixture(scope="module")
def series_parquet(spark, tmp_path_factory):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(f"s{s}", 1_700_000_000.0 + 60.0 * i,
             float(20 + 5 * np.sin(i / 7 + s) + rng.normal()))
            for s in range(4) for i in range(200)]
    path = str(tmp_path_factory.mktemp("plan") / "series.parquet")
    spark.createDataFrame(
        rows, "series string, ts double, value double").write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("k", [1, 2, 3, 4])
def test_config_plan_is_linear_in_detectors(series_parquet, k):
    """Every detector reads the base frame and joins back once: k
    detectors scan the input k+1 times and add at most two exchanges
    each (a chained plan doubled both per detector: 16 scans and 26
    exchanges at k=4)."""
    algs, confs = zip(*_PLAN_SUITE[:k])
    out = compile_config({"anomaly_detection_alg": list(algs),
                          "anomaly_detection_conf": list(confs)})(
        series_parquet)
    scans, exchanges = plan_counts(out)
    assert scans <= k + 1, (k, scans)
    assert exchanges <= 2 * k, (k, exchanges)
    assert out.count() == series_parquet.count()


def test_combination_plan_is_linear_in_sub_detectors(series_parquet):
    algs, confs = zip(*_PLAN_SUITE[:3])
    comb = compile_detector(
        "Combination()", {"anomaly_algorithms": list(algs),
                          "anomaly_algorithms_configurations": list(confs),
                          "status_determiner": "OR()"},
        keys="series", order="ts", value="value")(series_parquet)
    scans, exchanges = plan_counts(comb)
    assert scans <= 4 and exchanges <= 6, (scans, exchanges)
    # the determiner folds the same per-detector verdicts compile_config
    # reports side by side
    flat = compile_config({"anomaly_detection_alg": list(algs),
                           "anomaly_detection_conf": list(confs)})(
        series_parquet)
    got = {(r["series"], r["ts"]): r["code"] for r in comb.collect()}
    want = {(r["series"], r["ts"]): r["status_code"] for r in flat.collect()}
    assert got == want
