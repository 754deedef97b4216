"""Ordered-recurrence checks via ``applyInPandas`` — the only operators that
genuinely need per-group sequential semantics (EMA-family recurrences,
decayed cumulative sums, IIR filters, repair feedback).

Contract: each series is confined to one task, rows are sorted by
(series keys, order) INSIDE the pandas function (Spark does not guarantee
intra-group order), and series math runs through pandas' Cython groupby
kernels (``groupby().ewm/rolling/shift/cumcount``) — zero per-row Python,
per the north rule.

Scale design: Spark groups are SERIES BUCKETS (``pmod(hash(keys),
SERIES_BUCKETS)``), not individual series. A million tiny series would pay
applyInPandas' per-group Arrow overhead a million times; bucketing bounds
the task count at ``SERIES_BUCKETS`` while each bucket processes its series
through one vectorized pandas pass. One hash shuffle either way.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.codes import UNDEFINED_CODE  # noqa: F401 (API)
from anomaly_detection_spark.codes import ladder_code_np
from anomaly_detection_spark.session import group_apply

SERIES_BUCKETS = 64


def _grouped(df: DataFrame, keys, order: str, fn, schema: str) -> DataFrame:
    """Bucket series -> applyInPandas. ``fn`` receives a frame sorted by
    (keys, order) possibly containing MANY series and must keep row order."""
    keys = keys if isinstance(keys, (list, tuple)) else [keys]

    def wrapper(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(list(keys) + [order],
                              kind="mergesort").reset_index(drop=True)
        return fn(pdf.drop(columns=["_bkt"]))

    bucketed = df.withColumn(
        "_bkt", F.pmod(F.xxhash64(*[F.col(k) for k in keys]),
                       F.lit(SERIES_BUCKETS))
    )
    return group_apply(bucketed, ["_bkt"], wrapper, schema,
                       max_groups=SERIES_BUCKETS)


def _out_schema(df: DataFrame, cols, extra: str) -> str:
    in_schema = df.select(*cols).schema
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in in_schema
    ) + ", " + extra


def ema_check(
    df: DataFrame, keys, order: str, value: str, *,
    N: int, LL: float, UL: float, warning_stages: Sequence[float] = (),
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """EMA drift check (/root/reference/src/algorithms/ema.py:88-126):
    EMA_t = v_t*s + EMA_{t-1}*(1-s), s = 2/(N+1), EMA_0 = v_0; the EMA is
    border-checked against [LL, UL] with the warning ladder. The exact
    recurrence via the Cython ``groupby().ewm(alpha=s, adjust=False)``
    kernel — one pass over the whole bucket."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    s = 2.0 / (N + 1)
    cols = list(keys_l) + [order] + list(extra_cols)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ema = (
            pdf.groupby(list(keys_l), sort=False)[value]
            .ewm(alpha=s, adjust=False).mean()
            .to_numpy()
        )
        ema = _propagate_nan(ema, pdf[value].to_numpy(dtype=np.float64),
                             _series_ids(pdf, keys_l))
        vn = 2.0 * (ema - (UL + LL) / 2.0) / (UL - LL)
        out = pdf[cols].copy()
        out["ema"] = ema
        out["code"] = ladder_code_np(vn, warning_stages)
        return out

    return _grouped(df.select(*cols, value), keys_l, order, fn,
                    _out_schema(df, cols, "ema double, code int"))


def _macd_stages(warning_stages: Sequence[float]) -> tuple:
    """MACD's stage loop is the one reference ladder whose ``else`` branch
    RESETS status to OK before breaking (macd.py:96-109) — so with
    multiple ascending stages a warning set by a smaller stage is
    overwritten unless EVERY stage triggers, i.e. MACD warns iff
    |vn| > max(stages). EMA/BorderCheck/Welford/Cumulative break without
    resetting (warn iff |vn| > min(stages), the shared ladder). Reduce to
    the single deciding stage, bug-for-bug; found by the config-compiler
    differential fuzz (multi-stage MACD configs)."""
    return (max(warning_stages),) if warning_stages else ()


def macd_check(
    df: DataFrame, keys, order: str, value: str, *,
    period1: int, period2: int, LL: float, UL: float,
    warning_stages: Sequence[float] = (), extra_cols: Sequence[str] = (),
) -> DataFrame:
    """MACD check (/root/reference/src/algorithms/macd.py:80-109): two EMAs
    (alpha = 2/(p+1), both seeded with v_0), border-check EMA1-EMA2.
    NB the reference leaves row 0's status uninitialized when
    warning_stages is non-empty; we define row 0 by the same ladder
    (vn of 0-difference), which is OK unless LL+UL band excludes 0."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    a1, a2 = 2.0 / (period1 + 1), 2.0 / (period2 + 1)
    cols = list(keys_l) + [order] + list(extra_cols)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby(list(keys_l), sort=False)[value]
        e1 = g.ewm(alpha=a1, adjust=False).mean().to_numpy()
        e2 = g.ewm(alpha=a2, adjust=False).mean().to_numpy()
        macd = _propagate_nan(e1 - e2,
                              pdf[value].to_numpy(dtype=np.float64),
                              _series_ids(pdf, keys_l))
        vn = 2.0 * (macd - (UL + LL) / 2.0) / (UL - LL)
        out = pdf[cols].copy()
        out["macd"] = macd
        out["code"] = ladder_code_np(vn, _macd_stages(warning_stages))
        return out

    return _grouped(df.select(*cols, value), keys_l, order, fn,
                    _out_schema(df, cols, "macd double, code int"))


def _series_ids(pdf: pd.DataFrame, keys_l) -> np.ndarray:
    return (pdf[keys_l[0]].to_numpy() if len(keys_l) == 1
            else pdf[list(keys_l)].apply(tuple, axis=1).to_numpy())


def _propagate_nan(out: np.ndarray, src: np.ndarray,
                   series: np.ndarray) -> np.ndarray:
    """The reference's sequential recurrences (and their DuckDB
    list_reduce oracle twins) propagate a NaN input forever within its
    series — (state + NaN) stays NaN — but pandas' Cython ewm/rolling
    kernels SKIP NaN inputs, silently recovering. Re-impose the
    reference semantics: from the first NaN source value on, every
    later metric in that series is NaN (data-defensive: today's
    testdata has no NaN, a future generator must not flip verdicts)."""
    bad = np.isnan(src)
    if not bad.any():
        return out
    starts = np.concatenate(([True], series[1:] != series[:-1]))
    grp = np.cumsum(starts) - 1
    poisoned = pd.Series(bad).groupby(grp).cummax().to_numpy().astype(bool)
    out = out.copy()
    out[poisoned] = np.nan
    return out


def _rolling_delta(pdf: pd.DataFrame, keys_l, value: str,
                   averaging: int) -> np.ndarray:
    """delta_t = (rm_t - rm_{t-1}) / |rm_t| with rm the trailing
    ``averaging``-mean (expanding during warm-up, rm_{-1} = 0)."""
    g = pdf.groupby(list(keys_l), sort=False)
    rm = g[value].rolling(averaging, min_periods=1).mean().to_numpy()
    prev = g[value].transform(lambda s: s.rolling(
        averaging, min_periods=1).mean().shift(1, fill_value=0.0)
    ).to_numpy()
    return (rm - prev) / np.abs(rm)


def _decayed_cusum(delta: np.ndarray, series: np.ndarray,
                   decay: float) -> np.ndarray:
    """c_t = (c_{t-1} + delta_t) * (1 - decay) per contiguous series run,
    c_{-1} = 0, as a SEEDED ewm recurrence: with x_t = delta_t*(q/decay)
    and a zero seed prepended, y_t = q*y_{t-1} + decay*x_t = q*(y_{t-1}
    + delta_t). Numerically stable for ANY series length — the earlier
    q^(t+1) * cumsum(delta * q^-t) closed form overflowed q^-t to inf
    past ~70k rows (decay 0.01), flipping long-series codes while the
    sequential SQL oracle stayed finite."""
    q = 1.0 - decay
    out = np.empty(len(delta))
    starts = np.flatnonzero(
        np.concatenate(([True], series[1:] != series[:-1])))
    bounds = np.append(starts, len(delta))
    for s0, s1 in zip(bounds[:-1], bounds[1:]):
        x = np.concatenate(([0.0], delta[s0:s1] * (q / decay)))
        out[s0:s1] = pd.Series(x).ewm(alpha=decay, adjust=False) \
            .mean().to_numpy()[1:]
        # a NaN delta (0/0 when a trailing mean is zero — REAL data at
        # sf>=1, found by the sf1 gate) must poison the rest of the
        # series: the sequential recurrence (and its list_reduce oracle
        # twin) keeps (state + NaN) = NaN forever, but pandas' ewm
        # kernel SKIPS NaN inputs and silently recovers.
        bad = np.isnan(delta[s0:s1])
        if bad.any():
            out[s0:s1][np.maximum.accumulate(bad)] = np.nan
    return out


def cumulative_check(
    df: DataFrame, keys, order: str, value: str, *,
    averaging: int, decay: float, warning_stages: Sequence[float] = (),
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Decayed cumulative-drift check
    (/root/reference/src/algorithms/cumulative.py:60-100):
    rm_t = mean(last `averaging` values, expanding during warm-up);
    delta_t = (rm_t - rm_{t-1}) / |rm_t|  (rm_{-1} = 0);
    c_t = (c_{t-1} + delta_t) * (1 - decay); border-check c_t against the
    fixed [-1, 1] band with the warning ladder."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + [order] + list(extra_cols)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        delta = _rolling_delta(pdf, keys_l, value, averaging)
        sids = _series_ids(pdf, keys_l)
        c = _propagate_nan(_decayed_cusum(delta, sids, decay),
                           pdf[value].to_numpy(dtype=np.float64), sids)
        out = pdf[cols].copy()
        out["cusum"] = c
        out["code"] = ladder_code_np(c, warning_stages)
        return out

    return _grouped(df.select(*cols, value), keys_l, order, fn,
                    _out_schema(df, cols, "cusum double, code int"))


def ema_percentile_check(
    df: DataFrame, keys, order: str, value: str, *,
    N: int, percentile: float, window: int,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """EMA + percentile band (/root/reference/src/algorithms/ema_percentile.py:69-98):
    EMA as in ema_check; verdict -1 iff the current EMA falls outside
    [P_{100-p}, P_p] of the trailing `window` EMA values (incl. current);
    warm-up rows (fewer than `window` EMAs) Undefined."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    s = 2.0 / (N + 1)
    p = percentile / 100.0
    cols = list(keys_l) + [order] + list(extra_cols)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        e, code = _ema_pctl_kernel(pdf, keys_l, value, s, p, window)
        out = pdf[cols].copy()
        out["ema"] = e
        out["code"] = code
        return out

    return _grouped(df.select(*cols, value), keys_l, order, fn,
                    _out_schema(df, cols, "ema double, code int"))


def _ema_pctl_kernel(pdf: pd.DataFrame, keys_l, value: str, s: float,
                     p: float, window: int):
    """Shared EMA + rolling-percentile-band kernel -> (ema, code):
    one ewm per series, verdict -1 iff the current EMA leaves the
    trailing-window [P_{100-p}, P_p] band (1e-9 inside margin), warm-up
    Undefined. Used by ema_percentile_check AND ema_suite_check so the
    recurrence/margins live in exactly one place."""
    g = pdf.groupby(list(keys_l), sort=False)[value]
    sids = _series_ids(pdf, keys_l)
    ema = pd.Series(_propagate_nan(
        g.ewm(alpha=s, adjust=False).mean().to_numpy(),
        pdf[value].to_numpy(dtype=np.float64), sids))
    ge = ema.groupby(sids)
    hi = ge.rolling(window).quantile(p, interpolation="linear").to_numpy()
    lo = ge.rolling(window).quantile(1.0 - p,
                                     interpolation="linear").to_numpy()
    e = ema.to_numpy()
    # a NaN-poisoned ema keeps every later window NaN-bearing, so the
    # rolling quantile stays NaN and the verdict stays Undefined(2)
    code = np.where(
        np.isnan(hi), 2,
        np.where((e > hi + 1e-9) | (e < lo - 1e-9), -1, 1)
    ).astype(np.int32)
    return e, code


def ema_suite_check(
    df: DataFrame, keys, order: str, value: str, *,
    N: int, LL: float, UL: float, warning_stages: Sequence[float] = (),
    percentile: float = 95.0, window: int = 20,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """EMA border check + EMA-percentile band in ONE Arrow pass: the two
    detectors share the identical EMA recurrence, so computing it once
    and deriving both verdicts halves the scan/shuffle/ewm work of
    running the operators separately and joining."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    s = 2.0 / (N + 1)
    p = percentile / 100.0
    cols = list(keys_l) + [order] + list(extra_cols)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        e, code_pctl = _ema_pctl_kernel(pdf, keys_l, value, s, p, window)
        vn = 2.0 * (e - (UL + LL) / 2.0) / (UL - LL)
        out = pdf[cols].copy()
        out["ema"] = e
        out["code_ema"] = ladder_code_np(vn, warning_stages)
        out["code_pctl"] = code_pctl
        return out

    return _grouped(df.select(*cols, value), keys_l, order, fn,
                    _out_schema(df, cols,
                                "ema double, code_ema int, code_pctl int"))


def macd_cusum_check(
    df: DataFrame, keys, order: str, value: str, *,
    period1: int, period2: int, macd_LL: float, macd_UL: float,
    macd_stages: Sequence[float] = (), averaging: int = 5,
    decay: float = 0.01, cusum_stages: Sequence[float] = (),
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """MACD + decayed-cusum drift checks in ONE Arrow pass over the same
    bucketed series (shared scan/shuffle/groupby; the kernels are
    independent Cython passes over the same group object)."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    a1, a2 = 2.0 / (period1 + 1), 2.0 / (period2 + 1)
    cols = list(keys_l) + [order] + list(extra_cols)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        gv = pdf.groupby(list(keys_l), sort=False)[value]
        sids = _series_ids(pdf, keys_l)
        v = pdf[value].to_numpy(dtype=np.float64)
        e1 = gv.ewm(alpha=a1, adjust=False).mean().to_numpy()
        e2 = gv.ewm(alpha=a2, adjust=False).mean().to_numpy()
        macd = _propagate_nan(e1 - e2, v, sids)
        vn = 2.0 * (macd - (macd_UL + macd_LL) / 2.0) / (macd_UL - macd_LL)
        delta = _rolling_delta(pdf, keys_l, value, averaging)
        c = _propagate_nan(_decayed_cusum(delta, sids, decay), v, sids)
        out = pdf[cols].copy()
        out["macd"] = macd
        out["code_macd"] = ladder_code_np(vn, _macd_stages(macd_stages))
        out["cusum"] = c
        out["code_cusum"] = ladder_code_np(c, cusum_stages)
        return out

    return _grouped(df.select(*cols, value), keys_l, order, fn,
                    _out_schema(df, cols,
                                "macd double, code_macd int, "
                                "cusum double, code_cusum int"))


def _per_series(pdf: pd.DataFrame, keys_l, fn_series):
    """Iterate series inside a bucket (for genuinely scalar recurrences:
    IIR state, repair feedback). Work per series is numpy; the python loop
    is over SERIES, not rows."""
    outs = []
    for _, g in pdf.groupby(list(keys_l), sort=False):
        outs.append(fn_series(g))
    return pd.concat(outs, ignore_index=True)


def _last_n_repair_series(v: np.ndarray, *, N: int, mid: float,
                          half: float) -> tuple[np.ndarray, np.ndarray]:
    """LastNAverage repair WITH feedback on one series -> (vn, repaired).
    Errors are data-dependent and rare, so the scan is vectorized and
    re-touches only flagged rows (O(#errors * N) scalar work)."""
    repaired = v.copy()
    vn = (v - mid) / half
    for i in np.flatnonzero(np.abs(vn) > 1.0):
        lo = max(0, i - N)
        if i > 0:
            repaired[i] = repaired[lo:i].mean()
    return vn, repaired


def _periodic_repair_series(v: np.ndarray, *, N: int, period: int,
                            mid: float, half: float
                            ) -> tuple[np.ndarray, np.ndarray]:
    """PeriodicLastNAverage repair on one series -> (vn, repaired):
    erroneous values take the mean of the last N repaired values spaced
    ``period`` apart; repaired values feed subsequent windows."""
    repaired = v.copy()
    vn = (v - mid) / half
    for i in np.flatnonzero(np.abs(vn) > 1.0):
        idx = [i - period * j for j in range(1, N + 1) if i - period * j >= 0]
        if idx:
            repaired[i] = repaired[idx].mean()
    return vn, repaired


def last_n_average_repair(
    df: DataFrame, keys, order: str, value: str, *,
    N: int, LL: float, UL: float, warning_stages: Sequence[float] = (),
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Border check + LastNAverage repair WITH feedback
    (/root/reference/src/normalization.py:24-55 and
    anomaly_detection.py:454-472): an erroneous value is replaced by the
    mean of the last N (repaired) values, and the repaired value is what
    enters subsequent windows (true sequential scan)."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + [order] + list(extra_cols)
    mid, half = (UL + LL) / 2.0, (UL - LL) / 2.0

    def one(g: pd.DataFrame) -> pd.DataFrame:
        v = g[value].to_numpy().astype(np.float64)
        vn, repaired = _last_n_repair_series(v, N=N, mid=mid, half=half)
        out = g[cols].copy()
        out["code"] = ladder_code_np(vn, warning_stages)
        out["suggested_value"] = repaired
        out["vn_repaired"] = (repaired - mid) / half
        return out

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _per_series(pdf, keys_l, one)

    return _grouped(
        df.select(*cols, value), keys_l, order, fn,
        _out_schema(df, cols,
                    "code int, suggested_value double, vn_repaired double"))


def periodic_last_n_average_repair(
    df: DataFrame, keys, order: str, value: str, *,
    N: int, period: int, LL: float, UL: float,
    warning_stages: Sequence[float] = (), extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Border check + PeriodicLastNAverage repair
    (/root/reference/src/normalization.py:58-93)."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + [order] + list(extra_cols)
    mid, half = (UL + LL) / 2.0, (UL - LL) / 2.0

    def one(g: pd.DataFrame) -> pd.DataFrame:
        v = g[value].to_numpy().astype(np.float64)
        vn, repaired = _periodic_repair_series(v, N=N, period=period,
                                               mid=mid, half=half)
        out = g[cols].copy()
        out["code"] = ladder_code_np(vn, warning_stages)
        out["suggested_value"] = repaired
        return out

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _per_series(pdf, keys_l, one)

    return _grouped(df.select(*cols, value), keys_l, order, fn,
                    _out_schema(df, cols, "code int, suggested_value double"))


def normalization_suggest(
    df: DataFrame, keys, order: str, value: str, *,
    kind: str = "LastNAverage", N: int, period: int = 1,
    code_col: str = "code", out: str = "suggested_value",
) -> DataFrame:
    """The reference's `normalization` repair EXACTLY as its hook runs
    it (/root/reference/src/algorithms/anomaly_detection.py:454-472 +
    normalization.py:24-93), as a post-pass over an already-coded frame:
    every non-error row appends its RAW value to the rolling memory; an
    error row with a FULL memory gets suggested = the memory mean
    (LastNAverage: last N values; PeriodicLastNAverage: the stride-
    ``period`` slice of the last (N-1)*period+1 values, oldest-aligned)
    and the SUGGESTION is what enters memory (feedback); an error row
    while memory is still filling gets NO suggestion and its raw value
    enters memory. Differs from :func:`last_n_average_repair` (the
    re-imagined fused border+repair operator): this one reproduces the
    hook bit-for-bit for config parity, including the no-suggestion
    warm-up and the suggestion-not-raw feedback on repaired rows.

    Scope note: reference-side the hook fires only on rows the detector
    actually inserted, and BorderCheck (the canonical normalization
    user) inserts every row; detectors that skip the hook during their
    warm-up would diverge on those warm-up rows — the config
    differential pins the BorderCheck semantics."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    if kind == "LastNAverage":
        mem_len, stride = int(N), 1
    elif kind == "PeriodicLastNAverage":
        mem_len, stride = (int(N) - 1) * int(period) + 1, int(period)
    else:
        raise ValueError(f"unknown normalization {kind!r}")

    cols = list(df.columns)

    def one(g: pd.DataFrame) -> pd.DataFrame:
        v = g[value].to_numpy().astype(np.float64)
        codes = g[code_col].to_numpy()
        sug = np.full(len(v), np.nan)
        mem: list[float] = []
        for i in range(len(v)):
            if codes[i] == -1 and len(mem) == mem_len:
                s = float(np.mean(mem[::stride]))
                sug[i] = s
                mem.append(s)
            else:
                mem.append(float(v[i]))
            if len(mem) > mem_len:
                del mem[0]
        out_g = g.copy()
        out_g[out] = sug
        return out_g

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _per_series(pdf, keys_l, one)

    return _grouped(df, keys_l, order, fn,
                    _out_schema(df, cols, f"{out} double"))


def repair_suite(
    df: DataFrame, keys, order: str, value: str, *,
    last_n: int, periodic_n: int, period: int, LL: float, UL: float,
    warning_stages: Sequence[float] = (), extra_cols: Sequence[str] = (),
) -> DataFrame:
    """BOTH repair variants in ONE per-series Arrow pass (shared scan,
    shared shuffle, shared ladder codes — the verdicts depend only on
    the raw values, so the two repairs differ purely in their suggested
    values). Output: code_last_n == code_periodic == the border ladder,
    plus each variant's suggestion; one applyInPandas stage instead of
    two stages joined on the row key."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + [order] + list(extra_cols)
    mid, half = (UL + LL) / 2.0, (UL - LL) / 2.0

    def one(g: pd.DataFrame) -> pd.DataFrame:
        v = g[value].to_numpy().astype(np.float64)
        vn, rep_l = _last_n_repair_series(v, N=last_n, mid=mid, half=half)
        _, rep_p = _periodic_repair_series(v, N=periodic_n, period=period,
                                           mid=mid, half=half)
        out = g[cols].copy()
        codes = ladder_code_np(vn, warning_stages)
        out["code_last_n"] = codes
        out["suggested_last_n"] = rep_l
        out["code_periodic"] = codes
        out["suggested_periodic"] = rep_p
        return out

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _per_series(pdf, keys_l, one)

    return _grouped(
        df.select(*cols, value), keys_l, order, fn,
        _out_schema(df, cols,
                    "code_last_n int, suggested_last_n double, "
                    "code_periodic int, suggested_periodic double"))


# ---------------------------------------------------------------------------
# Butterworth low-pass (reference filtering.py) — scipy-free implementation.
# ---------------------------------------------------------------------------

def butter_lowpass(order: int, wn: float):
    """Digital Butterworth low-pass (b, a) via bilinear transform of the
    analog prototype — same math as scipy.signal.butter(order, wn), public
    textbook construction (Oppenheim & Schafer). wn is the normalized
    cutoff (1.0 == Nyquist)."""
    warped = 4.0 * np.tan(np.pi * wn / 2.0)  # 2*fs*tan(pi*Wn/fs), fs=2
    # analog prototype poles (Butterworth circle)
    k = np.arange(1, order + 1)
    poles = warped * np.exp(1j * np.pi * (2 * k + order - 1) / (2 * order))
    gain = warped**order
    # bilinear transform (fs = 2)
    fs2 = 4.0
    z = (fs2 + poles) / (fs2 - poles)
    gain = gain.real / np.prod(fs2 - poles).real
    b = gain * np.real(np.poly(-np.ones(order)))
    a = np.real(np.poly(z))
    return b, a


def lfilter(b: np.ndarray, a: np.ndarray, x: np.ndarray, zi: np.ndarray | None = None):
    """Direct-form II transposed IIR filter (scipy.signal.lfilter semantics)."""
    b = np.asarray(b, dtype=np.float64) / a[0]
    a = np.asarray(a, dtype=np.float64) / a[0]
    n = max(len(a), len(b))
    z = np.zeros(n - 1) if zi is None else zi.astype(np.float64).copy()
    y = np.empty_like(x, dtype=np.float64)
    for i in range(len(x)):  # IIR recurrence is inherently sequential
        y[i] = b[0] * x[i] + z[0]
        for j in range(n - 2):
            z[j] = b[j + 1] * x[i] + z[j + 1] - a[j + 1] * y[i]
        z[n - 2] = b[n - 1] * x[i] - a[n - 1] * y[i]
    return y, z


def lfilter_zi(b: np.ndarray, a: np.ndarray) -> np.ndarray:
    """Steady-state initial conditions (scipy.signal.lfilter_zi semantics)."""
    b = np.asarray(b, dtype=np.float64) / a[0]
    a = np.asarray(a, dtype=np.float64) / a[0]
    n = max(len(a), len(b))
    # companion matrix of the transposed direct form II
    comp = np.zeros((n - 1, n - 1))
    comp[:, 0] = -a[1:n]
    comp[:-1, 1:] = np.eye(n - 2)
    IminusA = np.eye(n - 1) - comp
    B = b[1:n] - a[1:n] * b[0]
    zi = np.linalg.solve(IminusA, B)
    return zi


def filtering_check(
    df: DataFrame, keys, order: str, value: str, *,
    filter_order: int, cutoff_frequency: float, mode: int,
    LL: float, UL: float, warning_stages: Sequence[float] = (),
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Butterworth filtering check
    (/root/reference/src/algorithms/filtering.py:46-123): low-pass the
    series (state carried across rows; zi seeded as lfilter_zi(b, a),
    unscaled, exactly like the reference's configure). mode 0
    border-checks the filtered signal vn = 2*(y-(UL+LL)/2)/(UL-LL); mode 1
    checks deviation = (v - y)/(UL - LL), reproducing the reference's
    mixed branch (error when deviation > 1 OR vn < -1, ladder on
    deviation) bug-for-bug for golden parity."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + [order] + list(extra_cols)
    b, a = butter_lowpass(filter_order, cutoff_frequency)
    mid, half = (UL + LL) / 2.0, (UL - LL) / 2.0

    def one(g: pd.DataFrame) -> pd.DataFrame:
        x = g[value].to_numpy().astype(np.float64)
        y, _ = lfilter(b, a, x, zi=lfilter_zi(b, a))
        vn = (y - mid) / half
        if mode == 0:
            code = ladder_code_np(vn, warning_stages)
        else:
            deviation = (x - y) / (UL - LL)
            if len(warning_stages) > 0:
                warn = np.where(np.abs(deviation) > min(warning_stages), 0, 1)
            else:
                warn = np.ones(len(x), dtype=np.int64)
            code = np.where((deviation > 1.0) | (vn < -1.0), -1, warn).astype(np.int32)
        out = g[cols].copy()
        out["filtered"] = y
        out["code"] = code
        return out

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _per_series(pdf, keys_l, one)

    return _grouped(df.select(*cols, value), keys_l, order, fn,
                    _out_schema(df, cols, "filtered double, code int"))
