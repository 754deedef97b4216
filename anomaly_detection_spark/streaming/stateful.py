"""Stateful streaming checks: seven per-key scorers (EMA, Welford,
DBSCAN retrain, RRCF, GAN, trend NN, Prophet) carried ACROSS micro-
batches with ``applyInPandasWithState`` — the streaming analogues of
the batch operators, which the reference runs on an unbounded Kafka
stream.

Every check runs on one driver, ``_stateful``: per series key it loads
the stored state tuple (or the check's initial one), collects and sorts
the key's micro-batch by event order, hands it to the check's kernel
``step(pdf, st) -> (cols, st)``, emits (key, order, *cols) and stores
the new state. A restarted query resumes from Spark's state checkpoint
— state handling is Spark's, not ours. EMA, for instance, keeps
(last_ema, count) and continues by seeding pandas' ewm with the carried
EMA; the closed-form (1-s)^t continuation overflows on long batches.

Semantics match the batch operators exactly when rows arrive in order
(the reference assumes in-order arrival, SURVEY.md §2.10); late rows
within a batch are ordered by the sort, late across batches follow
processing order like the reference would.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable, Iterator, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from anomaly_detection_spark.codes import ladder_code_np


def _whole_batch(batches: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """Collect ONE key's micro-batch (delivered as multiple Arrow
    chunks when it exceeds arrow.maxRecordsPerBatch) and sort it by
    event order GLOBALLY. Sorting per chunk would fold a late row from
    a later chunk into the recurrence after later-order rows — breaking
    the stream == batch equivalence every check here advertises."""
    chunks = [c for c in batches if len(c)]
    if not chunks:
        return None
    return pd.concat(chunks, ignore_index=True) \
        .sort_values("order").reset_index(drop=True)


def _pickled(obj: Any) -> Tuple[bytearray]:
    return (bytearray(pickle.dumps(obj, pickle.HIGHEST_PROTOCOL)),)


def _stateful(stream_df, step: Callable, *, init: Tuple, fields: str,
              state: str):
    """Run ``step`` per series key across micro-batches. ``init`` is the
    state tuple before a key's first batch; ``step(pdf, st)`` gets the
    key's sorted batch and stored tuple and returns ``(cols, st)``:
    ``cols`` maps each name of ``fields`` (the output columns after
    key and order, a DDL string) to its values, in ``fields`` order, and
    ``st`` is the tuple to store, typed by the ``state`` DDL string."""

    def fn(key: Tuple[Any, ...], batches: Iterator[pd.DataFrame],
           gs: GroupState) -> Iterator[pd.DataFrame]:
        st = gs.get if gs.exists else init
        pdf = _whole_batch(batches)
        if pdf is not None:
            cols, st = step(pdf, st)
            yield pdf[["key", "order"]].assign(**cols)
        gs.update(st)

    return stream_df.groupBy("key").applyInPandasWithState(
        fn, "key string, order double, " + fields, state, "append",
        GroupStateTimeout.NoTimeout)


def streaming_ema_check(stream_df, *, N: int, LL: float, UL: float,
                        warning_stages: Sequence[float] = ()):
    """stream_df must have columns (key string, order double, value
    double). Returns the stateful per-row verdict stream: key, order,
    value, ema, code. State per key = (last_ema, count)."""
    s = 2.0 / (N + 1)
    mid, half = (UL + LL) / 2.0, (UL - LL) / 2.0

    def step(pdf, st):
        prev_ema, prev_n = st
        v = pdf["value"].to_numpy(dtype=np.float64)
        if prev_n == 0:
            # first element seeds the EMA (reference: EMA_0 = v_0)
            ema = pd.Series(v).ewm(alpha=s, adjust=False).mean().to_numpy()
        else:
            # continuation by SEEDING the ewm with the carried EMA
            # (prepend, then drop): y_0 = prev, y_t = (1-s) y_{t-1} +
            # s v_t — numerically stable for any batch length, unlike
            # the q^-t closed form which overflows past ~1/s * 700 rows
            ema = pd.Series(np.concatenate(([prev_ema], v))) \
                .ewm(alpha=s, adjust=False).mean().to_numpy()[1:]
        vn = (ema - mid) / half
        cols = {"value": v, "ema": ema,
                "code": ladder_code_np(vn, warning_stages)}
        return cols, (float(ema[-1]), prev_n + len(v))

    return _stateful(stream_df, step, init=(float("nan"), 0),
                     fields="value double, ema double, code int",
                     state="ema double, n long")


def streaming_clustering_retrain(stream_df, features: Sequence[str], *,
                                 eps: float, min_samples: int,
                                 treshold: float, retrain_interval: int,
                                 samples_for_retrain: int):
    """Streaming rolling retrain — the reference's retrain recurrence
    (isolation_forest.py:158-177 shape, clustering instance) carried
    ACROSS micro-batches: state = (trailing sample buffer, samples-since-
    retrain counter, retrain_counter, current DBSCAN core matrix). Each
    micro-batch is processed in SEGMENTS between fire points (vectorized
    scoring per segment; the Python loop is over fires, never rows); a
    fire refits the cores on the full buffer and resets the counter,
    exactly like the batch ``clustering_retrain_check`` — the two are
    equivalence-tested on split streams. Rows seen before the first fire
    are Undefined(2) (no initial-state support in
    applyInPandasWithState; the batch operator's ``initial_train`` plays
    the reference's pretrained model).

    stream_df columns: (key string, order double, <features...> double).
    Returns the stateful per-row verdict stream with retrain epochs."""
    from anomaly_detection_spark.operators.clustering import (
        _core_samples, _min_dist,
    )

    feats = list(features)
    dim = len(feats)
    R, S = int(retrain_interval), int(samples_for_retrain)
    if R <= 0 or S <= 0:
        raise ValueError("retrain_interval and samples_for_retrain must be "
                         f"positive, got R={R}, S={S}")

    def step(pdf, st):
        buf_flat, counter, epoch, cores_flat = st
        buf = np.asarray(buf_flat, dtype=np.float64).reshape(-1, dim)
        counter, epoch = int(counter), int(epoch)
        # epoch > 0 means a model EXISTS even if it found no cores
        # (empty core set scores everything -1, same as the batch
        # operator); only epoch 0 means "no model yet" -> Undefined
        cores = (np.asarray(cores_flat, dtype=np.float64).reshape(-1, dim)
                 if epoch > 0 else None)
        X = pdf[feats].to_numpy(dtype=np.float64)
        n = len(X)
        dist = np.full(n, np.inf)
        code = np.full(n, 2, dtype=np.int32)
        ep = np.zeros(n, dtype=np.int32)
        pos = 0
        while pos < n:
            # rows until the next fire: counter must reach R AND the
            # buffer must be full (reference fires only on both)
            need = max(R - counter, S - len(buf), 1)
            take = min(need, n - pos)
            seg = X[pos:pos + take]
            ep[pos:pos + take] = epoch
            if cores is not None:
                d = _min_dist(seg, cores)
                dist[pos:pos + take] = d
                code[pos:pos + take] = np.where(d >= treshold, -1, 1)
            buf = np.vstack([buf, seg])[-S:]
            counter += take
            pos += take
            if counter >= R and len(buf) == S:
                cores = _core_samples(buf, eps, min_samples)
                counter = 0
                epoch += 1
        cols = {**{c: pdf[c] for c in feats},
                "min_core_dist": dist, "epoch": ep, "code": code}
        return cols, (
            buf.reshape(-1).tolist(), counter, epoch,
            cores.reshape(-1).tolist() if cores is not None else [],
        )

    return _stateful(
        stream_df, step, init=([], 0, 0, []),
        fields=", ".join(f"{c} double" for c in feats)
        + ", min_core_dist double, epoch int, code int",
        state="buf array<double>, counter long, epoch long, "
              "cores array<double>")


def streaming_rrcf_check(stream_df, features: Sequence[str], *,
                         num_trees: int = 10, tree_size: int = 128,
                         threshold: float = 10.0, seed: int = 0):
    """Streaming RRCF across micro-batches — the reference's actual
    execution model (rrcf_trees.py:98-117 runs on an unbounded Kafka
    stream): state = the pickled forest (the trees ARE the model; the
    sliding window, duplicate counts and the insertion index all live
    inside it). Each micro-batch folds its rows through
    ``RRCFStream.insert_score`` in event order; a restarted query
    resumes from Spark's state checkpoint with the identical forest, so
    stream == batch element-exact (equivalence-tested).

    stream_df columns: (key string, order double, <features...>
    double). Returns the stateful per-row (codisp, code) stream."""
    from anomaly_detection_spark.operators.rrcf import RRCFStream

    feats = list(features)

    def step(pdf, st):
        stream = pickle.loads(bytes(st[0]))
        rows = pdf[feats].to_numpy(dtype=np.float64).tolist()
        scores = np.fromiter((stream.insert_score(r) for r in rows),
                             dtype=np.float64, count=len(rows))
        cols = {"codisp": scores,
                "code": np.where(scores > threshold, -1, 1).astype(np.int32)}
        return cols, _pickled(stream)

    return _stateful(stream_df, step,
                     init=_pickled(RRCFStream(num_trees, tree_size, seed)),
                     fields="codisp double, code int",
                     state="forest binary")


def welford_merge(a, b):
    """Chan's parallel update: exact, associative merge of two
    (count, mean, M2) moment sets."""
    na, ma, M2a = a
    nb, mb, M2b = b
    if na == 0.0:
        return b
    if nb == 0.0:
        return a
    n = na + nb
    delta = mb - ma
    mean = ma + delta * nb / n
    M2 = M2a + M2b + delta * delta * na * nb / n
    return (n, mean, M2)


def streaming_welford_check(stream_df, *, X: float,
                            warning_stages: Sequence[float] = ()):
    """Streaming Welford check across micro-batches: state = mergeable
    (count, mean, M2) moments, each batch folded in with
    :func:`welford_merge`. Each row is scored against the statistics of
    all PRIOR rows
    (/root/reference/src/algorithms/welford.py:176-191 semantics: rows
    0 and 1 Undefined, then vn = (v-mean)/(X*stddev_pop)).

    stream_df columns: (key string, order double, value double)."""

    def step(pdf, st):
        n0, mean0, m20 = st
        v = pdf["value"].to_numpy(dtype=np.float64)
        # Row i's verdict uses all PRIOR rows (state + batch[0:i]).
        # Vectorized prefix moments: counts/sums/sumsqs via cumsum,
        # shifted by one so the current row is excluded.
        cs = np.concatenate(([0.0], np.cumsum(v)[:-1]))
        cq = np.concatenate(([0.0], np.cumsum(v * v)[:-1]))
        cnt = n0 + np.arange(len(v), dtype=np.float64)
        s0 = n0 * mean0
        q0 = m20 + (n0 * mean0 * mean0 if n0 > 0 else 0.0)
        with np.errstate(divide="ignore", invalid="ignore"):
            mean_prior = (s0 + cs) / cnt
            m2_prior = np.maximum(
                (q0 + cq) - (s0 + cs) ** 2 / np.where(cnt > 0, cnt, 1.0),
                0.0,
            )
            sd = np.sqrt(np.where(cnt > 0, m2_prior / np.where(cnt > 0, cnt, 1.0), 0.0))
            # zero-variance branch matches the batch operator (the
            # reference's UL==LL rule, welford.py:104-113): equal ->
            # vn 0, else inf
            vn = np.where(sd > 0, (v - mean_prior) / (X * sd),
                          np.where(v == mean_prior, 0.0, np.inf))
        codes = ladder_code_np(vn, warning_stages)
        codes[cnt <= 1] = 2
        # fold the whole batch into the carried moments (exact merge)
        if len(v):
            bn = float(len(v))
            bmean = float(v.mean())
            bm2 = float(((v - bmean) ** 2).sum())
            n0, mean0, m20 = welford_merge((n0, mean0, m20),
                                           (bn, bmean, bm2))
        return {"value": v, "code": codes}, \
            (float(n0), float(mean0), float(m20))

    return _stateful(stream_df, step, init=(0.0, 0.0, 0.0),
                     fields="value double, code int",
                     state="n double, mean double, m2 double")


def streaming_gan_check(stream_df, features: Sequence[str], *, model,
                        K: float = 3.0, len_window: int = 20):
    """Streaming GAN check across micro-batches — the reference's
    execution model (gan.py:103-209 scores an unbounded Kafka stream
    against one pre-trained autoencoder). ``model`` is the
    (mn, mx, av, weights, acts) tuple from a driver-side
    ``neural.fit_autoencoder`` fit (few KB; rides the closure). State =
    the trailing error window (last len_window-1 reconstruction errors),
    so the exp-weighted moving threshold K*wavg(window incl. current,
    tail-aligned warm-up weights) continues EXACTLY across batches;
    non-finite rows are Undefined and do not advance the window
    (gan.py:109-122, 156-162).

    stream_df columns: (key string, order double, <features...>)."""
    from anomaly_detection_spark.operators.neural import (
        ewm_threshold, mlp_predict,
    )

    feats = list(features)
    mn, mx, av, weights, acts = model

    def step(pdf, st):
        win = np.asarray(st[0], dtype=np.float64)
        Xg = pdf[feats].to_numpy(dtype=np.float64)
        if mn != mx:
            Xg = (Xg - av) / (mx - mn)
        n = len(Xg)
        err = np.full(n, np.nan)
        code = np.full(n, 2, dtype=np.int32)
        mask = np.isfinite(Xg).all(axis=1)
        if mask.any():
            Xf = Xg[mask]
            err_f = ((mlp_predict(weights, acts, Xf) - Xf) ** 2) \
                .mean(axis=1)
            # prepend the carried window: positions past it see the
            # identical full-sequence recurrence (the carry holds
            # min(prior_count, len_window-1) errors — every window a
            # batch row needs)
            seq = np.concatenate([win, err_f])
            thr = ewm_threshold(seq, K, len_window)[len(win):]
            err[mask] = err_f
            code[mask] = np.where(err_f >= thr, -1, 1)
            win = seq[-(len_window - 1):] if len_window > 1 \
                else np.empty(0)
        return {"recon_err": err, "code": code}, ([float(x) for x in win],)

    return _stateful(stream_df, step, init=([],),
                     fields="recon_err double, code int",
                     state="window array<double>")


def streaming_trend_nn_check(stream_df, *, N: int = 10, averaging: int = 3,
                             prediction_conv: int = 3,
                             amp_scale: float = 1.0,
                             warning_stages: Sequence[float] = (0.5,),
                             num_samples: int = 1000,
                             train_noise: float = 0.05, seed: int = 0):
    """Streaming Trend_Classification across micro-batches — the
    reference scores an unbounded stream with one synthetic-ramp-trained
    MLP (trend_classification.py:54-152). The net retrains identically
    from its seed on any executor (fit is memoized per process), so no
    weights ride the state; state = the three recurrence tails
    (last averaging-1 raw values, last N-1 trailing means, last
    prediction_conv-1 class predictions), which is exactly what the
    clean per-message recurrence needs to continue element-exactly
    (batch == stream equivalence-tested).

    stream_df columns: (key string, order double, value double)."""
    from anomaly_detection_spark.operators.neural import (
        fit_trend_classifier, mlp_predict,
    )

    stages = sorted(warning_stages)

    def step(pdf, st):
        weights, acts = fit_trend_classifier(
            N, num_samples=num_samples, train_noise=train_noise, seed=seed)
        raw_t, mean_t, pred_t = pickle.loads(bytes(st[0]))
        vals = pdf["value"].to_numpy(dtype=np.float64)
        nb = len(vals)
        raw = np.concatenate([raw_t, vals])
        means_b = pd.Series(raw).rolling(
            averaging, min_periods=1).mean().to_numpy()[len(raw_t):]
        mseq = np.concatenate([mean_t, means_b])
        codes = np.full(nb, 2, dtype=np.int32)
        tval = np.full(nb, np.nan)
        # batch row i's FV window ends at mseq index len(mean_t)+i;
        # it exists once the GLOBAL row index reaches N-1, and the
        # carry holds min(rows_seen, N-1) means, so len(mean_t)
        # alone encodes that condition
        first = max(0, (N - 1) - len(mean_t))
        preds_b = np.empty(0)
        if first < nb and len(mseq) >= N:
            Wd = np.lib.stride_tricks.sliding_window_view(mseq, N)
            Wd = Wd[len(mean_t) + first - (N - 1):]
            mx = Wd.max(axis=1)
            mn = Wd.min(axis=1)
            amp = (mx - mn) / amp_scale
            flat = mx == mn
            preds_b = np.ones(len(Wd))
            if (~flat).any():
                nw = Wd[~flat]
                # reference precedence quirk, verbatim (neural.py)
                with np.errstate(divide="ignore", invalid="ignore",
                                 over="ignore"):
                    norm = (nw - nw.mean(axis=1, keepdims=True)) \
                        / nw.max(axis=1, keepdims=True) \
                        - nw.min(axis=1, keepdims=True)
                    preds_b[~flat] = mlp_predict(weights, acts, norm) \
                        .argmax(axis=1)
            pseq = np.concatenate([pred_t, preds_b])
            avgp = pd.Series(pseq).rolling(
                prediction_conv, min_periods=prediction_conv).mean() \
                .to_numpy()[len(pred_t):]
            v = 1.0 + (avgp - 1.0) * amp
            centered = v - 1.0
            full = ~np.isnan(avgp)
            c = np.where(
                np.abs(centered) > 1.0, -1,
                np.where(np.abs(centered) > (stages[0] if stages
                                             else np.inf), 0, 1))
            codes[first:][full] = c[full]
            tval[first:] = v
            pred_t = pseq[-(prediction_conv - 1):] \
                if prediction_conv > 1 else np.empty(0)
        raw_t = raw[-(averaging - 1):] if averaging > 1 \
            else np.empty(0)
        mean_t = mseq[-(N - 1):] if N > 1 else np.empty(0)
        return {"trend_value": tval, "code": codes}, \
            _pickled((raw_t, mean_t, pred_t))

    return _stateful(stream_df, step,
                     init=_pickled((np.empty(0), np.empty(0), np.empty(0))),
                     fields="trend_value double, code int",
                     state="st binary")


def streaming_forecast_retrain_check(stream_df, *, min_samples: int,
                                     max_samples: int,
                                     retrain_interval: int = 1,
                                     period: float, harmonics: int = 2,
                                     uncertainty_interval: float = 0.95,
                                     n_changepoints: int = 0,
                                     changepoint_range: float = 0.8,
                                     changepoint_ridge: float = 1.0):
    """Streaming fb_Prophet detector loop across micro-batches
    (fb_prophet.py:74-199 runs on an unbounded Kafka stream): state =
    the trailing (t, y) memory plus the rows-seen counter. Models refit
    deterministically from the memory at each retrain boundary, so no
    coefficients ride the state; the carry holds max_samples +
    retrain_interval - 1 rows because the governing boundary of a
    batch's first rows can sit up to R-1 rows behind the batch, and its
    training window reaches max_samples rows further back. Each batch is
    walked in boundary-delimited segments (the Python loop is over
    retrain fires, never rows); element-exact vs the batch
    ``forecast_retrain_check`` (equivalence-tested across splits).

    stream_df columns: (key string, order double, value double)."""
    from anomaly_detection_spark.operators.forecast import (
        _fit_predict_band, _z_for_interval,
    )

    R = int(retrain_interval)
    S = int(max_samples)
    first = int(min_samples)
    keep_n = S + R - 1
    fitkw = dict(period=period, harmonics=harmonics,
                 n_changepoints=n_changepoints,
                 changepoint_range=changepoint_range,
                 changepoint_ridge=changepoint_ridge,
                 z=_z_for_interval(uncertainty_interval))

    def step(pdf, st):
        t_tail, y_tail, seen = pickle.loads(bytes(st[0]))
        tb = pdf["order"].to_numpy(dtype=np.float64)
        yb = pdf["value"].to_numpy(dtype=np.float64)
        nb = len(yb)
        t_all = np.concatenate([t_tail, tb])
        y_all = np.concatenate([y_tail, yb])
        off = len(t_tail)  # t_all index of global row r: off + r - seen
        yhat = np.full(nb, np.nan)
        band = np.full(nb, np.nan)
        code = np.full(nb, 2, dtype=np.int32)
        p = 0
        while p < nb:
            g = seen + p  # global 0-based index of batch row p
            if g < first:
                p = min(nb, first - seen)
                continue
            b = first + ((g - first) // R) * R  # governing boundary
            seg = slice(p, min(nb, (b + R) - seen))
            lo = max(0, off + (b - S) - seen)
            hi = off + b - seen
            fit = _fit_predict_band(t_all[lo:hi], y_all[lo:hi],
                                    tb[seg], **fitkw)
            if fit is not None:
                yh, bw = fit
                yhat[seg] = yh
                band[seg] = bw
                code[seg] = np.where(
                    (yb[seg] < yh - bw) | (yb[seg] > yh + bw), -1, 1)
            p = seg.stop
        seen += nb
        keep = min(len(t_all), keep_n)
        t_tail = t_all[-keep:] if keep else np.empty(0)
        y_tail = y_all[-keep:] if keep else np.empty(0)
        cols = {"yhat": yhat, "yhat_lower": yhat - band,
                "yhat_upper": yhat + band, "code": code}
        return cols, _pickled((t_tail, y_tail, seen))

    return _stateful(stream_df, step,
                     init=_pickled((np.empty(0), np.empty(0), 0)),
                     fields="yhat double, yhat_lower double, "
                            "yhat_upper double, code int",
                     state="st binary")
