"""Seasonal-trend forecasting with tolerance intervals ("prophet-lite") —
the modeling half of the reference's fb_Prophet detector
(/root/reference/src/algorithms/fb_prophet.py:130-199): fit a forecast on
each series' history, derive an uncertainty band, and flag observations
outside their nearest-bound interval.

Prophet's additive model for the reference's use case (uncertainty band
lookup) reduces to trend + seasonality + residual spread; this fits an
OLS model over a [1, t, hinge changepoints, sin/cos harmonics] basis per
series with plain numpy — deterministic, dependency-free, vectorized
(the piecewise-linear trend is Prophet's own construction, Taylor &
Letham 2018 eq. 4, with ridge in place of the Laplace prior on the
slope deltas; n_changepoints=0 stays pure OLS) — and emits
(ts, yhat, yhat_lower, yhat_upper) with a z * residual-std band. The
verdict path is the shared as-of band check (operators/asof.py), exactly
where the reference looks up the nearest forecast bound.

Scale: one bucketed per-series scan to FIT + PREDICT (sequential
machinery), then the band check's own strategy; no driver-side loops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from anomaly_detection_spark.operators.sequential import (
    _grouped,
    _out_schema,
    _per_series,
)
from anomaly_detection_spark.session import group_apply


def _design(t: np.ndarray, period: float, harmonics: int,
            changepoints: np.ndarray | None = None) -> np.ndarray:
    cols = [np.ones_like(t), t]
    if changepoints is not None:
        # Prophet's piecewise-linear trend: one hinge max(0, t - s) per
        # potential changepoint (Taylor & Letham 2018, eq. 4 — the
        # a(t)·δ term with the slope deltas as hinge coefficients)
        for s in changepoints:
            cols.append(np.maximum(0.0, t - s))
    for h in range(1, harmonics + 1):
        w = 2.0 * np.pi * h * t / period
        cols.append(np.sin(w))
        cols.append(np.cos(w))
    return np.stack(cols, axis=1)


def seasonal_forecast(
    df: DataFrame, keys, order: str, value: str, *,
    period: float, harmonics: int = 2, z: float = 3.0,
    n_changepoints: int = 0, changepoint_range: float = 0.8,
    changepoint_ridge: float = 1.0, extra_cols=(),
) -> DataFrame:
    """Per-series in-sample forecast + tolerance band: columns yhat,
    yhat_lower, yhat_upper (band = z * residual std, Prophet-style
    constant-width interval).

    ``n_changepoints > 0`` adds Prophet's piecewise-linear trend:
    potential changepoints at uniform quantiles of the observed
    timestamps' first ``changepoint_range`` (Prophet's default layout),
    hinge slope-deltas shrunk by an L2 penalty ``changepoint_ridge``
    (the ridge analog of Prophet's Laplace changepoint prior; only the
    hinge columns are penalized, so trend/seasonality stay OLS-exact).
    The default 0 keeps the original pure-OLS numerics bit-for-bit."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + [order] + list(extra_cols)

    def one(g: pd.DataFrame) -> pd.DataFrame:
        t = g[order].to_numpy(dtype=np.float64)
        y = g[value].to_numpy(dtype=np.float64)
        fit = _fit_predict_band(t, y, t, period=period,
                                harmonics=harmonics,
                                n_changepoints=n_changepoints,
                                changepoint_range=changepoint_range,
                                changepoint_ridge=changepoint_ridge, z=z)
        if fit is None:
            yhat = np.full_like(y, np.nan)
            band = np.full_like(y, np.nan)
        else:
            yhat, bw = fit
            band = np.full_like(y, bw)
        o = g[cols].copy()
        o["yhat"] = yhat
        o["yhat_lower"] = yhat - band
        o["yhat_upper"] = yhat + band
        return o

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _per_series(pdf, keys_l, one)

    select_cols = list(dict.fromkeys([*cols, value]))  # value may be in extras
    return _grouped(
        df.select(*select_cols), keys_l, order, fn,
        _out_schema(df, cols,
                    "yhat double, yhat_lower double, yhat_upper double"))


def forecast_band_check(
    df: DataFrame, keys, order: str, value: str, *,
    period: float, harmonics: int = 2, z: float = 3.0,
    n_changepoints: int = 0, changepoint_range: float = 0.8,
    changepoint_ridge: float = 1.0, extra_cols=(), out: str = "code",
) -> DataFrame:
    """fb_Prophet-style verdict: observation outside its forecast interval
    -> Error; rows with no fit (short series) Undefined. The band here is
    indexed at the observation's own timestamp (in-sample), which is the
    degenerate exact case of the reference's nearest-timestamp bound
    lookup; for a PRE-FIT forecast table use asof.asof_band_check."""
    from pyspark.sql import functions as F

    from anomaly_detection_spark.codes import UNDEFINED_CODE

    fc = seasonal_forecast(df, keys, order, value, period=period,
                           harmonics=harmonics, z=z,
                           n_changepoints=n_changepoints,
                           changepoint_range=changepoint_range,
                           changepoint_ridge=changepoint_ridge,
                           extra_cols=tuple(extra_cols) + (value,))
    code = (
        F.when(F.col("yhat").isNull() | F.isnan("yhat"),
               F.lit(UNDEFINED_CODE))
        .when((F.col(value) < F.col("yhat_lower"))
              | (F.col(value) > F.col("yhat_upper")), F.lit(-1))
        .otherwise(F.lit(1))
    )
    return fc.withColumn(out, code)


def _z_for_interval(width: float) -> float:
    """two-sided normal quantile for an uncertainty interval width in
    (0, 1) — the reference passes Prophet ``interval_width``
    (fb_prophet.py:43,180); Prophet's band is the [lo, hi] quantile pair
    of its simulated predictive draws, which under the normal residual
    model is +-z*sigma with z = probit((1+width)/2). Scipy-free via
    Acklam's rational approximation of the inverse normal CDF (public
    constants; |rel err| < 1.15e-9)."""
    if not 0.0 < float(width) < 1.0:
        raise ValueError(f"interval width must be in (0,1), got {width}")
    p = (1.0 + float(width)) / 2.0
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    plow = 0.02425
    if p < plow:
        q = np.sqrt(-2 * np.log(p))
        return float((((((c[0]*q+c[1])*q+c[2])*q+c[3])*q+c[4])*q+c[5]) /
                     ((((d[0]*q+d[1])*q+d[2])*q+d[3])*q+1))
    if p > 1 - plow:
        q = np.sqrt(-2 * np.log(1 - p))
        return float(-(((((c[0]*q+c[1])*q+c[2])*q+c[3])*q+c[4])*q+c[5]) /
                     ((((d[0]*q+d[1])*q+d[2])*q+d[3])*q+1))
    q = p - 0.5
    r = q * q
    return float((((((a[0]*r+a[1])*r+a[2])*r+a[3])*r+a[4])*r+a[5])*q /
                 (((((b[0]*r+b[1])*r+b[2])*r+b[3])*r+b[4])*r+1))


def _fit_predict_band(t_tr, y_tr, t_sc, *, period, harmonics,
                      n_changepoints, changepoint_range,
                      changepoint_ridge, z):
    """One epoch's model: fit the [1, t, hinges, harmonics] basis on the
    train slice, evaluate at the score timestamps (hinges extend
    linearly past the train window — the forecast), band = z*resid_std.
    Returns (yhat, band) or None when the slice is too short."""
    t0 = float(t_tr[0])
    tr = t_tr - t0
    cps = None
    if n_changepoints > 0 and len(tr) > 2:
        qs = np.linspace(0.0, changepoint_range, n_changepoints + 2)[1:-1]
        cps = np.unique(np.quantile(tr, qs))
    A = _design(tr, period, harmonics, cps)
    k = A.shape[1]
    if len(y_tr) <= k + 2:
        return None
    if cps is not None:
        # ridge on the hinge block only, solved as an AUGMENTED least
        # squares (sqrt-penalty rows appended) rather than the normal
        # equations: lstsq stays rank-deficiency-safe when the
        # unpenalized columns are collinear (constant order column,
        # aliased harmonics), where solve() on A'A + P would raise or
        # explode
        P = np.zeros(k)
        P[2:2 + len(cps)] = changepoint_ridge
        A_aug = np.vstack([A, np.diag(np.sqrt(P))])
        coef, *_ = np.linalg.lstsq(
            A_aug, np.concatenate([y_tr, np.zeros(k)]), rcond=None)
    else:
        coef, *_ = np.linalg.lstsq(A, y_tr, rcond=None)
    resid_std = float(np.std(y_tr - A @ coef, ddof=min(k, len(y_tr) - 1)))
    yhat = _design(t_sc - t0, period, harmonics, cps) @ coef
    return yhat, z * resid_std


def forecast_retrain_check(
    df: DataFrame, keys, order: str, value: str, *,
    min_samples: int, max_samples: int, retrain_interval: int = 1,
    period: float, harmonics: int = 2, uncertainty_interval: float = 0.95,
    n_changepoints: int = 0, changepoint_range: float = 0.8,
    changepoint_ridge: float = 1.0, extra_cols=(), out: str = "code",
) -> DataFrame:
    """The fb_Prophet DETECTOR loop (fb_prophet.py:74-199) with the
    built-in forecaster as the model: rows are Undefined until
    ``min_samples`` history has accumulated; the first model trains
    there; each scored row is checked against the most recent model's
    interval at the row's own timestamp (the exact limit of the
    reference's nearest-future-grid-point lookup, ibid.:133-136) —
    below lower / above upper -> Error, else OK; every
    ``retrain_interval`` scored rows the model refits on the trailing
    ``max_samples`` history (ibid.:148-167,171-197). ``epoch`` in the
    output counts retrains, and ``uncertainty_interval`` maps to the
    band's z through the normal quantile exactly as Prophet's
    interval_width does under its normal residual model.

    Execution: epoch-parallel via :func:`mvoutlier.epoch_explode` (one
    shuffle, series x epochs tasks) when the training-buffer duplication
    S/R is bounded; the reference's default retrain_interval=1 would
    duplicate every row max_samples times, so that regime runs a
    per-series pass that loops epochs INSIDE the bucketed scan instead
    (same verdicts — the two paths are equivalence-tested)."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + [order] + list(extra_cols)
    R = int(retrain_interval)
    S = int(max_samples)
    first = int(min_samples)
    if R <= 0 or S <= 0 or first <= 0:
        raise ValueError("min_samples, max_samples and retrain_interval "
                         "must be positive")
    z = _z_for_interval(uncertainty_interval)
    fitkw = dict(period=period, harmonics=harmonics,
                 n_changepoints=n_changepoints,
                 changepoint_range=changepoint_range,
                 changepoint_ridge=changepoint_ridge, z=z)
    band_cols = "yhat double, yhat_lower double, yhat_upper double"

    schema = _out_schema(df.select(*cols), cols,
                         f"{band_cols}, epoch int, {out} int")

    if S / R > 32:
        # sequential regime (tiny retrain_interval): loop epochs inside
        # the per-series scan; each epoch is one vectorized OLS
        def one(g: pd.DataFrame) -> pd.DataFrame:
            t = g[order].to_numpy(dtype=np.float64)
            y = g[value].to_numpy(dtype=np.float64)
            n = len(y)
            yhat = np.full(n, np.nan)
            band = np.full(n, np.nan)
            code = np.full(n, 2, dtype=np.int32)
            epoch = np.zeros(n, dtype=np.int32)
            e = 1
            for b in range(first, n, R):
                sc = slice(b, min(b + R, n))
                lo = max(0, b - S)
                epoch[sc] = e
                fit = _fit_predict_band(t[lo:b], y[lo:b], t[sc], **fitkw)
                if fit is not None:
                    yh, bw = fit
                    yhat[sc] = yh
                    band[sc] = bw
                    code[sc] = np.where(
                        (y[sc] < yh - bw) | (y[sc] > yh + bw), -1, 1)
                e += 1
            o = g[cols].copy()
            o["yhat"] = yhat
            o["yhat_lower"] = yhat - band
            o["yhat_upper"] = yhat + band
            o["epoch"] = epoch
            o[out] = code
            return o

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            return _per_series(pdf, keys_l, one)

        sel = list(dict.fromkeys([*cols, value]))
        return _grouped(df.select(*sel), keys_l, order, fn, schema)

    from anomaly_detection_spark.operators.mvoutlier import epoch_explode

    # value may already ride in extra_cols (forecast_band_check's
    # pattern) — selecting it twice would make the epoch_explode output
    # ambiguous, so only add it as a feature when cols lack it
    feats = [] if value in cols else [value]
    exploded = epoch_explode(df, keys_l, cols, feats, order,
                             first=first, R=R, S=S)

    def fit_score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_rn", kind="mergesort")
        sc = pdf[pdf["_train"] == 0]
        o = sc[cols].copy()
        e = int(pdf["_epoch"].iloc[0])
        o["epoch"] = np.int32(e)
        o["yhat"] = np.nan
        o["yhat_lower"] = np.nan
        o["yhat_upper"] = np.nan
        o[out] = np.int32(2)
        if e > 0 and len(sc):
            train = pdf[pdf["_train"] == 1]
            fit = _fit_predict_band(
                train[order].to_numpy(dtype=np.float64),
                train[value].to_numpy(dtype=np.float64),
                sc[order].to_numpy(dtype=np.float64), **fitkw)
            if fit is not None:
                yh, bw = fit
                ys = sc[value].to_numpy(dtype=np.float64)
                o["yhat"] = yh
                o["yhat_lower"] = yh - bw
                o["yhat_upper"] = yh + bw
                o[out] = np.where((ys < yh - bw) | (ys > yh + bw),
                                  -1, 1).astype(np.int32)
        return o[list(cols) + ["yhat", "yhat_lower", "yhat_upper",
                               "epoch", out]]

    return group_apply(exploded, [*keys_l, "_epoch"], fit_score, schema)
