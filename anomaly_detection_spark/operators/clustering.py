"""Clustering-distance check — the reference's DBSCAN detector
(/root/reference/src/algorithms/clustering.py:125-140, 221-234) re-imagined
distributed: a point is anomalous iff its euclidean distance to EVERY
core sample is >= treshold (sic — the reference's parameter name).

Two execution strategies, same semantics:

* :func:`clustering_check_grouped` — per-group fit + score inside
  ``applyInPandas`` (groups bounded; O(n^2) core-sample discovery on a
  capped training sample, vectorized numpy).
* :func:`clustering_check_broadcast` — fit once on a driver-collected
  sample, broadcast the (small) core-sample matrix, score the full table
  with a vectorized mapInPandas distance kernel — the scale path when one
  global model covers the table (mirrors the reference's single model).

DBSCAN core-sample discovery is the textbook definition: a point is a
core sample iff >= min_samples points (incl. itself) lie within eps.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from anomaly_detection_spark.operators.mvoutlier import (
    epoch_explode, training_rows,
)
from anomaly_detection_spark.operators.sequential import (
    _grouped, _out_schema, _per_series,
)
from anomaly_detection_spark.sampling import bounded_sample_rows
from anomaly_detection_spark.session import group_apply


def _core_samples(X: np.ndarray, eps: float, min_samples: int,
                  max_train: int = 4096, seed: int = 0) -> np.ndarray:
    X = training_rows(X, max_train, seed)
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    neighbors = (d2 <= eps * eps).sum(axis=1)
    return X[neighbors >= min_samples]


def _min_dist(X: np.ndarray, cores: np.ndarray) -> np.ndarray:
    if len(cores) == 0:
        return np.full(len(X), np.inf)
    d2 = ((X[:, None, :] - cores[None, :, :]) ** 2).sum(-1)
    return np.sqrt(d2.min(axis=1))


def clustering_check_grouped(
    df: DataFrame, keys, features: Sequence[str], *,
    eps: float, min_samples: int, treshold: float,
    extra_cols: Sequence[str] = (), out: str = "code",
) -> DataFrame:
    """Per-group core samples + distance verdict. Groups with < min_samples
    rows are Undefined."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + list(extra_cols) + list(features)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[list(features)].to_numpy(dtype=np.float64)
        out_pdf = pdf[list(keys_l) + list(extra_cols)].copy()
        if len(X) < min_samples:
            out_pdf["min_core_dist"] = np.inf
            out_pdf[out] = np.int32(2)
            return out_pdf
        cores = _core_samples(X, eps, min_samples)
        dist = _min_dist(X, cores)
        out_pdf["min_core_dist"] = dist
        out_pdf[out] = np.where(dist >= treshold, -1, 1).astype(np.int32)
        return out_pdf

    return group_apply(
        df.select(*cols), keys_l, fn,
        _out_schema(df, list(keys_l) + list(extra_cols),
                    f"min_core_dist double, {out} int"))


def clustering_retrain_check(
    df: DataFrame, keys, order: str, features: Sequence[str], *,
    eps: float, min_samples: int, treshold: float,
    retrain_interval: int, samples_for_retrain: int | None = None,
    initial_train: np.ndarray | None = None,
    extra_cols: Sequence[str] = (), out: str = "code",
) -> DataFrame:
    """Rolling-retrain DBSCAN-distance check — the reference's retrain
    recurrence (shared across detectors; clustering's instance asserted by
    /root/reference/src/unit_tests.py:819-864): every scored sample enters
    a memory buffer trimmed to the trailing ``samples_for_retrain`` rows
    (pre-seeded with the train file's tail); after ``retrain_interval``
    samples since the last retrain, with the buffer full, the model refits
    on the buffer and the counter resets.

    DBSCAN core discovery is deterministic, so unlike the iForest variant
    this reproduces the reference's retrain-flip verdict sequence
    element-exact (golden-tested) and has a full SQL oracle. ``initial_train``
    plays the reference's ``train_data`` file: it fits the epoch-0 model and
    seeds the memory; without it, epoch-0 rows are Undefined(2). ``epoch``
    in the output is the reference's retrain_counter.

    EPOCH-PARALLEL (round 3, mirroring mvoutlier.iforest_retrain_check):
    with bounded memory the fire schedule is closed-form — first fire at
    ``max(R, S - seeded)`` (the seeded train-file rows count toward
    filling the buffer), then every R rows — so each row explodes into
    its score epoch plus the <= ceil(S/R) epochs whose trailing buffer
    contains it, and ONE shuffle on (series, epoch) fans per-epoch
    fit+score across series x epochs tasks. The seeded-memory prefix
    never rides the shuffle: it is a bounded (<= S rows) driver-side
    array carried in the task closure, and each epoch prepends exactly
    the ``max(0, S - fire_k)`` tail rows the trailing buffer still needs
    — the train-file/stream boundary is just negative row indices.
    ``samples_for_retrain=None`` (unbounded memory) falls back to the
    per-series sequential form (the train duplication would be
    unbounded)."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    feats = list(features)
    cols = list(keys_l) + [order] + list(extra_cols)
    R = int(retrain_interval)
    S = samples_for_retrain
    if R <= 0 or (S is not None and S <= 0):
        raise ValueError("retrain_interval (and samples_for_retrain if set) "
                         f"must be positive, got R={R}, S={S}")
    init = (np.asarray(initial_train, dtype=np.float64)
            if initial_train is not None else None)
    mem0 = init if init is None or S is None else init[-S:]
    init_cores = (_core_samples(init, eps, min_samples)
                  if init is not None else None)
    if S is None:
        return _clustering_retrain_sequential(
            df, keys_l, order, feats, eps=eps, min_samples=min_samples,
            treshold=treshold, R=R, S=S, mem0=mem0, init_cores=init_cores,
            extra_cols=extra_cols, out=out)

    seeded = 0 if mem0 is None else len(mem0)
    first = max(R, int(S) - seeded)

    # iforest_retrain_check's role explosion; `first` counts the seeded rows
    exploded = epoch_explode(df, keys_l, cols, feats, order,
                             first=first, R=R, S=int(S))

    out_cols = list(cols) + ["min_core_dist", "epoch", out]

    def fit_score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_rn", kind="mergesort")
        sc = pdf[pdf["_train"] == 0]
        o = sc[cols].copy()
        epoch = int(pdf["_epoch"].iloc[0])
        o["epoch"] = np.int32(epoch)
        if not len(sc):
            o["min_core_dist"] = np.zeros(0)
            o[out] = np.zeros(0, dtype=np.int32)
            return o[out_cols]
        if epoch == 0:
            cores = init_cores
        else:
            fk = first + (epoch - 1) * R
            Xt = pdf[pdf["_train"] == 1][feats].to_numpy(dtype=np.float64)
            mem_needed = min(seeded, max(0, int(S) - fk))
            if mem_needed > 0:
                # memory-first, then stream — same order the sequential
                # buffer concatenation uses (matters only for the
                # deterministic subsample above max_train)
                Xt = np.vstack([mem0[seeded - mem_needed:], Xt]) \
                    if len(Xt) else mem0[seeded - mem_needed:]
            cores = _core_samples(Xt, eps, min_samples)
        if cores is None:          # epoch 0 without a train file
            o["min_core_dist"] = np.inf
            o[out] = np.int32(2)
            return o[out_cols]
        d = _min_dist(sc[feats].to_numpy(dtype=np.float64), cores)
        o["min_core_dist"] = d
        o[out] = np.where(d >= treshold, -1, 1).astype(np.int32)
        return o[out_cols]

    return group_apply(
        exploded, [*keys_l, "_epoch"], fit_score,
        _out_schema(df, cols, f"min_core_dist double, epoch int, {out} int"))


def _clustering_retrain_sequential(
    df: DataFrame, keys_l, order: str, feats, *,
    eps: float, min_samples: int, treshold: float,
    R: int, S, mem0, init_cores, extra_cols: Sequence[str], out: str,
) -> DataFrame:
    """Unbounded-memory form (samples_for_retrain=None): the train buffer
    is everything seen so far, so epochs are computed per series (Python
    loop over EPOCHS, never rows)."""
    cols = list(keys_l) + [order] + list(extra_cols)

    def one(g: pd.DataFrame) -> pd.DataFrame:
        X = g[feats].to_numpy(dtype=np.float64)
        n = len(X)
        dist = np.full(n, np.inf)
        code = np.full(n, 2, dtype=np.int32)
        epoch = np.zeros(n, dtype=np.int32)
        seeded = 0 if mem0 is None else len(mem0)
        # fire schedule: counter >= R since last fire AND buffer full
        fires, f = [], 0
        while True:
            nxt = f + R
            if S is not None and seeded + nxt < S:
                nxt = S - seeded  # wait for the buffer to fill
                if nxt < f + R:
                    nxt = f + R
            if nxt > n:
                break
            fires.append(nxt)
            f = nxt
        bounds = fires + [n]
        segments = [(0, bounds[0] if fires else n, init_cores, 0)]
        for k, fi in enumerate(fires):
            buf = X[:fi] if mem0 is None else np.vstack([mem0, X[:fi]])
            if S is not None:
                buf = buf[-S:]
            cores = _core_samples(buf, eps, min_samples)
            segments.append((fi, bounds[k + 1], cores, k + 1))
        for lo, hi, cores, ep in segments:
            if lo >= hi:
                continue
            epoch[lo:hi] = ep
            if cores is None:
                continue
            d = _min_dist(X[lo:hi], cores)
            dist[lo:hi] = d
            code[lo:hi] = np.where(d >= treshold, -1, 1)
        o = g[cols].copy()
        o["min_core_dist"] = dist
        o["epoch"] = epoch
        o[out] = code
        return o

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _per_series(pdf, keys_l, one)

    return _grouped(df.select(*cols, *feats), keys_l, order, fn,
                    _out_schema(df, cols,
                                f"min_core_dist double, epoch int, {out} int"))


def clustering_check_broadcast(
    spark: SparkSession, df: DataFrame, features: Sequence[str], *,
    eps: float, min_samples: int, treshold: float,
    train_sample: int = 4096, seed: int = 0,
    id_cols: Sequence[str] = (), out: str = "code",
) -> DataFrame:
    """One global model: sample -> core samples on the driver -> broadcast
    the core matrix -> vectorized distance scoring over Arrow batches.
    The broadcast is tiny (core samples only); the scan is one pass."""
    rows = bounded_sample_rows(df.select(*features), train_sample, seed=seed)
    X = np.array([[r[c] for c in features] for r in rows],
                 dtype=np.float64)
    cores = _core_samples(X, eps, min_samples)
    bc = spark.sparkContext.broadcast(cores)
    feats = list(features)
    keep = list(id_cols) + feats

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            Xb = pdf[feats].to_numpy(dtype=np.float64)
            dist = _min_dist(Xb, C)
            o = pdf[keep].copy()
            o["min_core_dist"] = dist
            o[out] = np.where(dist >= treshold, -1, 1).astype(np.int32)
            yield o

    in_schema = df.select(*keep).schema
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in in_schema
    ) + f", min_core_dist double, {out} int"
    return df.select(*keep).mapInPandas(score, schema=schema)
