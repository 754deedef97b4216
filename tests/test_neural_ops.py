"""Neural-kernel operators: the reference's ACTUAL Keras nets re-built
as hand-rolled numpy MLPs (operators/neural.py) — the GAN autoencoder
(gan.py:293-323) and the Trend_Classification MLP
(trend_classification.py:184-193). Mirrors the reference's own seeded
asserts (unit_tests.py:607-640: train-set values -> OK, gross vector ->
-1)."""

from __future__ import annotations

import numpy as np
import pytest

from anomaly_detection_spark.operators.neural import (
    ewm_threshold, fit_autoencoder, fit_trend_classifier, mlp_predict,
)


def _ramp_samples(n, noise, seed):
    rng = np.random.default_rng(seed)
    lab = rng.integers(0, 3, n)
    base = np.empty((n, 10))
    base[lab == 1] = 0.5
    base[lab == 2] = np.linspace(0, 1, 10)
    base[lab == 0] = np.linspace(1, 0, 10)
    return base + rng.normal(0, noise, (n, 10)), lab


class TestKernels:
    def test_trend_classifier_clean_ramps(self):
        w, a = fit_trend_classifier(10, seed=0)
        x, lab = _ramp_samples(300, 0.05, seed=42)
        # the buggy-precedence normalization is what inference feeds
        xb = (x - x.mean(1, keepdims=True)) / x.max(1, keepdims=True) \
            - x.min(1, keepdims=True)
        pred = mlp_predict(w, a, xb).argmax(1)
        assert (pred == lab).mean() >= 0.98

    def test_trend_classifier_deterministic(self):
        w1, _ = fit_trend_classifier(10, seed=7)
        w2, _ = fit_trend_classifier(10, seed=7)
        for (Wa, ba), (Wb, bb) in zip(w1, w2):
            np.testing.assert_array_equal(Wa, Wb)
            np.testing.assert_array_equal(ba, bb)

    def test_autoencoder_gross_outlier_margin(self):
        rng = np.random.default_rng(1)
        X = rng.normal(0, 1, (2000, 2))
        X[:, 1] = X[:, 0] * 0.8 + rng.normal(0, 0.2, 2000)
        mn, mx = X.min(), X.max()
        av = (mn + mx) / 2
        Xn = (X - av) / (mx - mn)
        w, a, thr_max = fit_autoencoder(Xn, 1, seed=0)
        err_in = ((mlp_predict(w, a, Xn) - Xn) ** 2).mean(1)
        spike = (np.array([[5000.0, 0.1]]) - av) / (mx - mn)
        err_sp = ((mlp_predict(w, a, spike) - spike) ** 2).mean(1)[0]
        # tanh latent bounds the reconstruction, so a gross input must
        # carry a gross error: orders of magnitude above the inliers
        assert err_sp > 1000 * np.quantile(err_in, 0.99)
        assert thr_max >= err_in.max() - 1e-12

    def test_autoencoder_deterministic(self):
        X = np.random.default_rng(3).normal(0, 0.3, (500, 3))
        w1, _, t1 = fit_autoencoder(X, 2, seed=5)
        w2, _, t2 = fit_autoencoder(X, 2, seed=5)
        assert t1 == t2
        for (Wa, _), (Wb, _) in zip(w1, w2):
            np.testing.assert_array_equal(Wa, Wb)

    def test_backprop_matches_finite_differences(self):
        """The hand-rolled backprop IS the training correctness: check
        every layer's analytic (W, b) gradients against central finite
        differences of the loss, for both loss heads (MSE/linear and
        softmax+cross-entropy) across every activation kind used by the
        two reference nets."""
        from anomaly_detection_spark.operators.neural import (
            _gradients, _init_net, _loss_value,
        )

        rng = np.random.default_rng(5)
        cases = [
            # AE-shaped: tanh bottleneck, relu decoder, linear output
            ("mse", ["linear", "tanh", "relu", "linear"], [3, 4, 2, 4, 3]),
            # classifier-shaped: relu, linear, softmax head
            ("ce", ["relu", "linear", "softmax"], [5, 5, 2, 3]),
        ]
        h = 1e-6
        for loss, acts, dims in cases:
            weights, _ = _init_net(dims, seed=9)
            X = rng.normal(0, 0.7, (6, dims[0]))
            Y = X.copy() if loss == "mse" \
                else np.eye(dims[-1])[rng.integers(0, dims[-1], 6)]
            grads = _gradients(weights, acts, X, Y, loss)
            checked = 0
            for li, (W, b) in enumerate(weights):
                for arr, g in ((W, grads[li][0]), (b, grads[li][1])):
                    flat = list(np.ndindex(arr.shape))
                    sel = [flat[int(i)] for i in
                           rng.choice(len(flat), size=min(6, len(flat)),
                                      replace=False)]
                    for idx in sel:
                        orig = arr[idx]
                        arr[idx] = orig + h
                        lp = _loss_value(weights, acts, X, Y, loss)
                        arr[idx] = orig - h
                        lm = _loss_value(weights, acts, X, Y, loss)
                        arr[idx] = orig
                        num = (lp - lm) / (2 * h)
                        assert num == pytest.approx(g[idx], rel=1e-5,
                                                    abs=1e-7), \
                            (loss, li, idx)
                        checked += 1
            assert checked >= 25

    def test_ewm_threshold_matches_reference_recurrence(self):
        """Vectorized threshold == the reference's stateful loop
        (gan.py:156-162: append err, trim window, K*wavg with
        tail-aligned exp weights)."""
        rng = np.random.default_rng(9)
        err = rng.uniform(0, 1, 57)
        K, len_window = 2.5, 12
        full_w = np.exp(np.linspace(0, 1, len_window))
        window: list = []
        expect = []
        for e in err:
            window.append(e)
            if len(window) > len_window:
                window = window[-len_window:]
            w = full_w[-len(window):]
            expect.append(K * np.average(window, weights=w))
        np.testing.assert_allclose(
            ewm_threshold(err, K, len_window), expect, rtol=1e-12)


@pytest.fixture(scope="module")
def two_feat_series(spark):
    """Two series of correlated (value, f2) pairs, each ending in one
    gross spike — the reference's unit_tests.py:621-640 shape (train-set
    values then a [1,2,4,100,...] vector)."""
    rng = np.random.default_rng(11)
    rows = []
    for s in ("a", "b"):
        v = rng.normal(100.0, 5.0, 120)
        for i, x in enumerate(v):
            rows.append((s, float(i), float(x),
                         float(x * 0.8 + rng.normal(0, 1.0))))
        rows.append((s, 120.0, 5000.0, 1.0))
    return spark.createDataFrame(
        rows, "series string, ts double, value double, f2 double")


class TestGanCheck:
    def test_planted_spike_flagged_inliers_mostly_ok(self, spark,
                                                     two_feat_series):
        from anomaly_detection_spark.operators.neural import gan_check

        clean = two_feat_series.filter("value < 1000")
        out = gan_check(
            spark, two_feat_series, "series", "ts", ["value", "f2"],
            n_latent=1, K=4.0, len_window=20, train_df=clean, seed=0,
        ).toPandas().sort_values(["series", "ts"])
        spikes = out[out.ts == 120.0]
        assert (spikes.code == -1).all()
        inl = out[out.ts < 120.0]
        assert (inl.code == -1).mean() <= 0.10
        # warm-up row 0: threshold = K * err_0 > err_0 -> OK by
        # construction (reference: first window holds only this error)
        assert set(out[out.ts == 0.0].code) == {1}

    def test_deterministic_across_runs(self, spark, two_feat_series):
        from anomaly_detection_spark.operators.neural import gan_check

        kw = dict(n_latent=1, K=4.0, len_window=20, seed=3)
        a = gan_check(spark, two_feat_series, "series", "ts",
                      ["value", "f2"], **kw).toPandas() \
            .sort_values(["series", "ts"]).reset_index(drop=True)
        b = gan_check(spark, two_feat_series, "series", "ts",
                      ["value", "f2"], **kw).toPandas() \
            .sort_values(["series", "ts"]).reset_index(drop=True)
        assert (a.code == b.code).all()
        np.testing.assert_allclose(a.recon_err, b.recon_err, rtol=1e-12)


class TestGanCheckGuards:
    def test_empty_train_slice_yields_undefined_not_crash(self, spark,
                                                          two_feat_series):
        """A train slice with no rows (a time filter matching nothing,
        or warm-up construction dropping everything) must produce honest
        all-Undefined verdicts, not a zero-size numpy reduction error at
        query-construction time."""
        from anomaly_detection_spark.operators.neural import gan_check

        out = gan_check(
            spark, two_feat_series, "series", "ts", ["value", "f2"],
            train_df=two_feat_series.filter("value > 1e12"), seed=0,
        ).toPandas()
        assert len(out) == two_feat_series.count()
        assert set(out.code) == {2}
        assert out.recon_err.isna().all()

    def test_nan_rows_undefined_and_window_skips_them(self, spark):
        """One NULL feature row: that row is Undefined (reference
        check_ftr_vector / isnan paths, gan.py:109-122,156-162), the
        error window does not advance over it, training min/max ignore
        it, and every other verdict still computes."""
        from anomaly_detection_spark.operators.neural import gan_check

        rng = np.random.default_rng(6)
        rows = []
        for i in range(60):
            v = float(rng.normal(10.0, 0.5))
            rows.append(("s", float(i), v, v * 0.9))
        rows.append(("s", 60.0, None, 1.0))
        rows.append(("s", 61.0, float(rng.normal(10.0, 0.5)), 9.0))
        df = spark.createDataFrame(
            rows, "series string, ts double, value double, f2 double")
        out = gan_check(spark, df, "series", "ts", ["value", "f2"],
                        n_latent=1, K=4.0, len_window=10, seed=0
                        ).toPandas().sort_values("ts")
        nan_row = out[out.ts == 60.0]
        assert set(nan_row.code) == {2}
        assert nan_row.recon_err.isna().all()
        rest = out[out.ts != 60.0]
        assert rest.recon_err.notna().all()
        assert set(rest.code) <= {-1, 1}


class TestTrendNNCheck:
    def test_ramps_flag_flat_stays_ok(self, spark):
        """The net flags where its inputs resemble its training
        distribution: an up-ramp STARTING at 0 flags on its early
        windows (min(FV)~0 keeps the buggy normalization close to the
        training one), a down-ramp ENDING at 0 flags at its tail, a flat
        series never flags. Fully deterministic: the model trains on
        seeded synthetic ramps, the planted series are constants."""
        from anomaly_detection_spark.operators.neural import trend_nn_check

        rng = np.random.default_rng(4)
        rows = []
        for i in range(40):
            rows.append(("up", float(i), 0.025 * i))
            rows.append(("down", float(i), 1.0 - 0.025 * i))
            rows.append(("flat", float(i),
                         0.5 + float(rng.normal(0, 0.01))))
        df = spark.createDataFrame(
            rows, "series string, ts double, value double")
        out = trend_nn_check(spark, df, "series", "ts", "value",
                             N=10, averaging=3, prediction_conv=3,
                             amp_scale=0.1, warning_stages=(0.5,), seed=0)
        pdf = out.toPandas()
        warm = 10 + 3 - 2  # first defined row index N+conv-2
        by = {s: pdf[pdf.series == s].sort_values("ts")
              for s in ("up", "down", "flat")}
        for s in by:
            assert all(c == 2 for c in by[s].code.tolist()[:warm]), s
        assert (by["up"].code == -1).sum() >= 4
        assert (by["down"].code == -1).sum() >= 4
        assert set(by["flat"].code.tolist()[warm:]) == {1}
        # direction is visible in the band value: up above 2, down below 0
        assert by["up"].trend_value.max() > 2.0
        assert by["down"].trend_value.min() < 0.0

    def test_amplitude_scaling_suppresses_tiny_trends(self, spark):
        """A clearly-up but TINY ramp must stay OK: value_normalized =
        1 + (pred-1)*amplitude and the amplitude of a 0.001-slope window
        is ~0.01 (trend_classification.py:106,121)."""
        from anomaly_detection_spark.operators.neural import trend_nn_check

        rows = [("t", float(i), 0.001 * i) for i in range(40)]
        df = spark.createDataFrame(
            rows, "series string, ts double, value double")
        pdf = trend_nn_check(spark, df, "series", "ts", "value",
                             N=10, warning_stages=(0.5,),
                             seed=0).toPandas().sort_values("ts")
        assert all(c == 1 for c in pdf.code.tolist()[12:])

    def test_matches_reference_stateless_recurrence(self, spark):
        """Spark path == a straight-line numpy transcription of the
        reference's per-message loop (clean-FV semantics: windows over
        raw trailing means; the documented deviation is only the
        reference's self.FV mutation, trend_classification.py:110-111)."""
        from anomaly_detection_spark.operators.neural import trend_nn_check

        rng = np.random.default_rng(8)
        vals = np.cumsum(rng.normal(0, 1.0, 60)) + 100.0
        rows = [("r", float(i), float(v)) for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "series string, ts double, value double")
        N, averaging, conv = 10, 3, 3
        pdf = trend_nn_check(spark, df, "series", "ts", "value",
                             N=N, averaging=averaging,
                             prediction_conv=conv, warning_stages=(0.5,),
                             seed=0).toPandas().sort_values("ts")

        w, a = fit_trend_classifier(N, seed=0)
        memory: list = []
        preds: list = []
        expect = []
        means = []
        for t, v in enumerate(vals):
            memory.append(v)
            memory = memory[-averaging:]
            means.append(np.mean(memory))
            if t < N - 1:
                expect.append(2)
                continue
            fv = np.array(means[-N:])
            amp = fv.max() - fv.min()
            if fv.max() == fv.min():
                preds.append(1.0)
            else:
                norm = (fv - fv.mean()) / fv.max() - fv.min()
                preds.append(float(
                    mlp_predict(w, a, norm[None, :]).argmax(1)[0]))
            if len(preds) < conv:
                expect.append(2)
                continue
            vn = 1.0 + (np.mean(preds[-conv:]) - 1.0) * amp - 1.0
            expect.append(-1 if abs(vn) > 1.0
                          else (0 if abs(vn) > 0.5 else 1))
        assert pdf.code.tolist() == expect
