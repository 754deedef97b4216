"""Multivariate outlier check — a pure-numpy Isolation Forest fitted per
group inside ``applyInPandas`` (the container has no sklearn; the algorithm
is the public Liu/Ting/Zhou iForest, re-implemented vectorized).

Reference semantics being re-imagined
(/root/reference/src/algorithms/isolation_forest.py:140-177): score each
feature vector with a forest trained on a trailing sample; prediction -1
-> Error. Here: each partition-group (e.g. repo bucket) trains its own
seeded forest on its rows and flags rows whose anomaly score exceeds the
threshold — a per-group multivariate outlier constraint. Training is
whole-group numpy (no per-row Python); scoring descends all trees with
vectorized node masks.

At 100 TB: groups are bounded (a repo bucket), training subsamples are
capped at ``max_train`` rows, and the shuffle is one hash-partition on the
group key — the same layout every other per-group operator uses.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.operators.sequential import (
    _grouped, _out_schema, _per_series,
)
from anomaly_detection_spark.sampling import bounded_sample_rows
from anomaly_detection_spark.session import group_apply


def _harmonic(n: float) -> float:
    return np.log(n) + 0.5772156649015329


def _c(n: float) -> float:
    """Average unsuccessful-BST path length c(n) — the iForest normalizer."""
    if n <= 1.0:
        return 0.0
    return 2.0 * _harmonic(n - 1.0) - 2.0 * (n - 1.0) / n


def _c_vec(n: np.ndarray) -> np.ndarray:
    """Vectorized :func:`_c` — whole-array log/ratio arithmetic, no
    per-element Python (the scorer calls this once per tree per batch)."""
    n = np.asarray(n, dtype=np.float64)
    out = np.zeros_like(n)
    m = n > 1.0
    nm = n[m]
    out[m] = 2.0 * (np.log(nm - 1.0) + 0.5772156649015329) - 2.0 * (nm - 1.0) / nm
    return out


def training_rows(X: np.ndarray, max_train: int, seed: int) -> np.ndarray:
    """Up to ``max_train`` of ``X``'s rows, drawn seeded from their
    canonical (lexicographic) order. Training draws pick rows by
    position, so a grouped fit on the result gives the same model, and
    the same verdicts, whatever order the shuffle delivered the group's
    rows in."""
    X = X[np.lexsort(X.T[::-1])]
    if len(X) > max_train:
        X = X[np.random.default_rng(seed).choice(len(X), max_train,
                                                 replace=False)]
    return X


class IsolationForest:
    """Array-encoded forest. Each tree: feature[i], threshold[i],
    left[i], right[i] (node indices; -1 => leaf), size[i] (training rows
    that reached the node, for path-length correction)."""

    def __init__(self, n_trees: int = 100, subsample: int = 256, seed: int = 0):
        self.n_trees = n_trees
        self.subsample = subsample
        self.seed = seed
        self.trees: list[dict] = []
        self._c_norm = 1.0
        self._stk = None

    def fit(self, X: np.ndarray) -> "IsolationForest":
        """Level-synchronous vectorized build: ALL trees grow one depth
        level per iteration with whole-array segment reductions
        (bincount / minimum.at over flat (tree, node) ids) — the loop is
        over DEPTH LEVELS (~log2 psi), never nodes or rows. Replaces a
        per-node recursive builder that cost ~2*psi Python calls per
        tree (measured 0.11s -> ~0.01s per 50-tree fit on psi=128)."""
        rng = np.random.default_rng(self.seed)
        n, d = X.shape
        psi = min(self.subsample, n)
        self._c_norm = _c(float(psi))
        max_depth = int(np.ceil(np.log2(max(psi, 2))))
        T = self.n_trees
        max_nodes = 2 * psi  # full binary tree with psi leaves has 2psi-1
        feature = np.full((T, max_nodes), -1, dtype=np.int64)
        threshold = np.zeros((T, max_nodes))
        left = np.full((T, max_nodes), -1, dtype=np.int64)
        right = np.full((T, max_nodes), -1, dtype=np.int64)
        size = np.zeros((T, max_nodes), dtype=np.int64)
        node_count = np.ones(T, dtype=np.int64)

        idx = np.stack([rng.choice(n, size=psi, replace=False)
                        for _ in range(T)])
        data = X[idx]                                    # (T, psi, d)
        flat_tree = np.repeat(np.arange(T), psi)
        assign = np.zeros(T * psi, dtype=np.int64)       # node per row
        rows = data.reshape(-1, d)

        # pending frontier: (tree, node) pairs created but not yet decided
        pt = np.arange(T)
        pn = np.zeros(T, dtype=np.int64)
        for depth in range(max_depth + 1):
            if not len(pt):
                break
            flat = flat_tree * max_nodes + assign
            counts = np.bincount(flat, minlength=T * max_nodes)
            mins = np.full((T * max_nodes, d), np.inf)
            maxs = np.full((T * max_nodes, d), -np.inf)
            np.minimum.at(mins, flat, rows)
            np.maximum.at(maxs, flat, rows)
            pflat = pt * max_nodes + pn
            size[pt, pn] = counts[pflat]
            spans = maxs[pflat] - mins[pflat]            # (P, d)
            splittable = spans > 0
            n_split = splittable.sum(axis=1)
            is_internal = ((depth < max_depth) & (counts[pflat] > 1)
                           & (n_split > 0))
            # leaves: feature/left/right already -1
            it, inode = pt[is_internal], pn[is_internal]
            if len(it):
                # random feature among splittable: k-th set bit per node
                k = np.floor(rng.random(len(it))
                             * n_split[is_internal]).astype(np.int64)
                order = np.argsort(~splittable[is_internal],
                                   kind="stable", axis=1)
                f = order[np.arange(len(it)), k]
                iflat = it * max_nodes + inode
                lo = mins[iflat, f]
                hi = maxs[iflat, f]
                thr = lo + rng.random(len(it)) * (hi - lo)
                # a ~1-ulp span can round thr down to lo, which would send
                # every row right (empty left child) and let node ids grow
                # past the 2*psi bound; thr = nextafter(lo) keeps both
                # children non-empty (min row goes left, max row right), so
                # every split separates rows and node_count <= 2*psi - 1
                thr = np.where(thr > lo, thr, np.nextafter(lo, hi))
                # allocate children per tree (contiguous block per level)
                per_tree = np.bincount(it, minlength=T)
                # position of this node among its tree's internals here
                pos = (np.cumsum(np.ones(len(it))) - 1
                       - np.concatenate(([0], np.cumsum(per_tree)))[it])
                lchild = node_count[it] + 2 * pos.astype(np.int64)
                rchild = lchild + 1
                feature[it, inode] = f
                threshold[it, inode] = thr
                left[it, inode] = lchild
                right[it, inode] = rchild
                node_count += 2 * per_tree
                # route rows of internal nodes to children
                internal_mark = np.zeros(T * max_nodes, dtype=bool)
                internal_mark[iflat] = True
                fmap = np.zeros(T * max_nodes, dtype=np.int64)
                tmap = np.zeros(T * max_nodes)
                lmap = np.zeros(T * max_nodes, dtype=np.int64)
                rmap = np.zeros(T * max_nodes, dtype=np.int64)
                fmap[iflat], tmap[iflat] = f, thr
                lmap[iflat], rmap[iflat] = lchild, rchild
                on_internal = internal_mark[flat]
                rf = flat[on_internal]
                go_left = (rows[on_internal, fmap[rf]] < tmap[rf])
                assign[on_internal] = np.where(go_left, lmap[rf], rmap[rf])
                pt = np.repeat(it, 2)
                pn = np.stack([lchild, rchild], axis=1).reshape(-1)
            else:
                pt = pn = np.empty(0, dtype=np.int64)

        self.trees = [
            {"feature": feature[t, :node_count[t]],
             "threshold": threshold[t, :node_count[t]],
             "left": left[t, :node_count[t]],
             "right": right[t, :node_count[t]],
             "size": size[t, :node_count[t]]}
            for t in range(T)
        ]
        # stacked copies for the all-trees-at-once scorer (padding nodes
        # are feature == -1, i.e. leaves, and never reached)
        self._stk = (feature, threshold, left, right, size)
        return self

    def _stacked(self):
        if getattr(self, "_stk", None) is None:
            T = len(self.trees)
            m = max(len(t["feature"]) for t in self.trees)
            F = np.full((T, m), -1, dtype=np.int64)
            TH = np.zeros((T, m))
            L = np.full((T, m), -1, dtype=np.int64)
            R = np.full((T, m), -1, dtype=np.int64)
            SZ = np.ones((T, m), dtype=np.int64)
            for i, t in enumerate(self.trees):
                k = len(t["feature"])
                F[i, :k], TH[i, :k] = t["feature"], t["threshold"]
                L[i, :k], R[i, :k], SZ[i, :k] = t["left"], t["right"], t["size"]
            self._stk = (F, TH, L, R, SZ)
        return self._stk

    def score(self, X: np.ndarray) -> np.ndarray:
        """Anomaly score in (0, 1): s = 2^(-E[h(x)]/c(psi)); > ~0.5 means
        shorter-than-average isolation path (outlier). All rows descend
        ALL trees level-synchronously on the stacked (tree, node) arrays
        — the loop is over DEPTH (~log2 psi iterations total, not per
        tree)."""
        n = len(X)
        if n == 0:
            return np.empty(0)
        F, TH, L, R, SZ = self._stacked()
        T = F.shape[0]
        trow = np.arange(T)[:, None]
        node = np.zeros((T, n), dtype=np.int64)
        depth = np.zeros((T, n))
        active = F[trow, node] != -1
        while active.any():
            tt, rr = np.nonzero(active)
            cur = node[active]
            go_left = X[rr, F[tt, cur]] < TH[tt, cur]
            node[active] = np.where(go_left, L[tt, cur], R[tt, cur])
            depth[active] += 1.0
            active = F[trow, node] != -1
        leaf_sizes = SZ[trow, node].astype(np.float64)
        depths = (depth + _c_vec(np.clip(leaf_sizes, 1.0, None))).sum(axis=0)
        avg = depths / max(T, 1)
        return np.power(2.0, -avg / max(self._c_norm, 1e-12))


def iforest_check(
    df: DataFrame, keys, features: Sequence[str], *,
    n_trees: int = 100, subsample: int = 256, max_train: int = 20_000,
    score_threshold: float = 0.6, contamination: float | None = None,
    seed: int = 0, extra_cols: Sequence[str] = (), out: str = "code",
) -> DataFrame:
    """Per-group multivariate outlier verdict: fit a seeded forest on up to
    ``max_train`` of the group's rows, score every row, Error(-1) iff
    score > threshold, else OK(1). The threshold is ``score_threshold``,
    or — when ``contamination`` is set (sklearn-style) — the group's
    (1-contamination) score quantile, never below score_threshold's floor
    of 0.5 (so a clean group flags nothing pathological). Groups smaller
    than 8 rows are Undefined(2) — not enough mass to define 'normal'."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + list(extra_cols) + list(features)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[list(features)].to_numpy(dtype=np.float64)
        out_pdf = pdf[list(keys_l) + list(extra_cols)].copy()
        if len(X) < 8:
            out_pdf["score"] = 0.0
            out_pdf[out] = np.int32(2)
            return out_pdf
        train = training_rows(X, max_train, seed)
        forest = IsolationForest(n_trees, subsample, seed).fit(train)
        s = forest.score(X)
        thr = score_threshold
        if contamination is not None:
            thr = max(float(np.quantile(s, 1.0 - contamination)), 0.5)
        out_pdf["score"] = s
        out_pdf[out] = np.where(s > thr, -1, 1).astype(np.int32)
        return out_pdf

    return group_apply(
        df.select(*cols), keys_l, fn,
        _out_schema(df, list(keys_l) + list(extra_cols),
                    f"score double, {out} int"))


def epoch_explode(df: DataFrame, keys_l, cols, feats, order: str, *,
                  first: int, R: int, S: int) -> DataFrame:
    """The rolling-retrain role explosion shared by
    :func:`iforest_retrain_check`, ``clustering.clustering_retrain_check``,
    ``forecast.forecast_retrain_check`` and ``neural.gan_retrain_check``:
    retrain fires are deterministic
    given (first, R, S) — fire F_k = first + (k-1)R, trained on the
    trailing min(S, F_k) rows, scoring rows F_k+1..F_k+R — so each row
    explodes into its score epoch plus the <= ceil(S/R) train epochs
    whose buffer contains it, and ONE shuffle on (keys, epoch) fans
    per-epoch fit+score across series x epochs tasks. Output columns:
    cols + feats + _rn + (_epoch, _train)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys_l).orderBy(order)
    base = df.select(*cols, *feats).withColumn("_rn", F.row_number().over(w))
    rn = F.col("_rn").cast("double")
    # score epoch: 0 during warm-up, else ceil((rn - first)/R)
    score_e = F.when(F.col("_rn") <= first, F.lit(0)).otherwise(
        F.ceil((rn - first) / R).cast("int"))
    # train epochs k: fire F_k = first + (k-1)R with rn <= F_k < rn + S
    klo = F.greatest(F.lit(1), (F.ceil((rn - first) / R) + 1).cast("int"))
    khi = F.ceil((rn + S - first) / R).cast("int")
    ks = F.when(khi >= klo, F.sequence(klo, khi)) \
        .otherwise(F.array().cast("array<int>"))
    # the transform lambda is interpreted, but over a <= 1+ceil(S/R)-
    # element array per row — PLANS.md lesson 1 scopes HOFs as fine at
    # that size, and a union of a native score frame and a native
    # exploded train frame recomputes the window scan+shuffle+sort twice,
    # which measured far worse
    roles = F.concat(
        F.array(F.struct(score_e.alias("e"), F.lit(0).alias("t"))),
        F.transform(ks, lambda k: F.struct(k.cast("int").alias("e"),
                                           F.lit(1).alias("t"))),
    )
    return base.select(
        *cols, *feats, "_rn", F.explode(roles).alias("_er")
    ).select(*cols, *feats, "_rn",
             F.col("_er.e").alias("_epoch"), F.col("_er.t").alias("_train"))


def iforest_retrain_check(
    df: DataFrame, keys, order: str, features: Sequence[str], *,
    retrain_interval: int, samples_for_retrain: int | None = None,
    n_trees: int = 100, subsample: int = 256,
    score_threshold: float = 0.6, seed: int = 0,
    extra_cols: Sequence[str] = (), out: str = "code",
) -> DataFrame:
    """Rolling-retrain iForest — the reference's ``retrain_interval`` /
    ``samples_for_retrain`` semantics
    (/root/reference/src/algorithms/isolation_forest.py:158-177, asserted
    by its unit_tests.py:472-548 retrain_counter tests): every scored
    sample is appended to a memory buffer trimmed to the trailing
    ``samples_for_retrain`` rows; when ``retrain_interval`` samples have
    arrived since the last retrain AND the buffer is full, the model is
    refit on the buffer and the counter resets.

    Batch re-imagining, EPOCH-PARALLEL: the fire indices are
    deterministic given (R, S) — first fire at max(R, S), then every R
    rows — so each series splits into independent epochs whose (train
    window, score window) depend on row indices alone. Each row is
    exploded into its score epoch plus the <= ceil(S/R) epochs whose
    trailing train buffer contains it (~1+S/R duplication, ids+features
    only), then ONE shuffle on (series, epoch) fans the per-epoch
    fit+score across series x epochs tasks — a long series does NOT
    serialize behind one task the way a per-series loop would (measured
    10x on 25k-row series at local[32]). Rows before the first fire are
    Undefined(2) (warm-up — the reference scores them with a
    file-pretrained model we don't have). ``epoch`` in the output is the
    reference's retrain_counter. ``samples_for_retrain=None`` (unbounded
    memory) would make the train duplication unbounded, so that case
    runs the per-series sequential form instead."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    feats = list(features)
    cols = list(keys_l) + [order] + list(extra_cols)
    R = int(retrain_interval)
    S = samples_for_retrain
    if R <= 0 or (S is not None and S <= 0):
        raise ValueError("retrain_interval (and samples_for_retrain if set) "
                         f"must be positive, got R={R}, S={S}")
    if S is None:
        return _iforest_retrain_sequential(
            df, keys_l, order, feats, R=R,
            n_trees=n_trees, subsample=subsample,
            score_threshold=score_threshold, seed=seed,
            extra_cols=extra_cols, out=out)
    first = max(R, int(S))
    exploded = epoch_explode(df, keys_l, cols, feats, order,
                             first=first, R=R, S=int(S))

    def fit_score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_rn", kind="mergesort")
        sc = pdf[pdf["_train"] == 0]
        o = sc[cols].copy()
        epoch = int(pdf["_epoch"].iloc[0])
        o["epoch"] = np.int32(epoch)
        if epoch == 0 or not len(sc):
            o["score"] = 0.0
            o[out] = np.int32(2)
            return o[list(cols) + ["score", "epoch", out]]
        train = pdf[pdf["_train"] == 1]
        Xt = train[feats].to_numpy(dtype=np.float64)
        Xs = sc[feats].to_numpy(dtype=np.float64)
        forest = IsolationForest(n_trees, subsample, seed + epoch - 1).fit(Xt)
        s = forest.score(Xs)
        o["score"] = s
        o[out] = np.where(s > score_threshold, -1, 1).astype(np.int32)
        return o[list(cols) + ["score", "epoch", out]]

    return group_apply(
        exploded, [*keys_l, "_epoch"], fit_score,
        _out_schema(df, cols, f"score double, epoch int, {out} int"))


def _iforest_retrain_sequential(
    df: DataFrame, keys_l, order: str, feats, *, R: int,
    n_trees: int, subsample: int, score_threshold: float, seed: int,
    extra_cols: Sequence[str], out: str,
) -> DataFrame:
    """Unbounded-memory (samples_for_retrain=None) form: train window =
    everything before the fire, so epochs are computed per series (Python
    loop over EPOCHS, never rows)."""
    cols = list(keys_l) + [order] + list(extra_cols)

    def one(g: pd.DataFrame) -> pd.DataFrame:
        X = g[feats].to_numpy(dtype=np.float64)
        n = len(X)
        scores = np.zeros(n, dtype=np.float64)
        code = np.full(n, 2, dtype=np.int32)
        epoch = np.zeros(n, dtype=np.int32)
        fires = list(range(R, n + 1, R))
        for k, fi in enumerate(fires):
            end = fires[k + 1] if k + 1 < len(fires) else n
            if fi >= end:
                continue
            forest = IsolationForest(n_trees, subsample, seed + k).fit(X[:fi])
            s = forest.score(X[fi:end])
            scores[fi:end] = s
            code[fi:end] = np.where(s > score_threshold, -1, 1)
            epoch[fi:end] = k + 1
        o = g[cols].copy()
        o["score"] = scores
        o["epoch"] = epoch
        o[out] = code
        return o

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _per_series(pdf, keys_l, one)

    return _grouped(df.select(*cols, *feats), keys_l, order, fn,
                    _out_schema(df, cols, f"score double, epoch int, {out} int"))


def pca_iforest_check(
    df: DataFrame, keys, features: Sequence[str], *,
    n_components: int = 2, n_trees: int = 100, subsample: int = 256,
    max_train: int = 20_000, score_threshold: float = 0.6,
    contamination: float | None = None, seed: int = 0,
    extra_cols: Sequence[str] = (), out: str = "code",
) -> DataFrame:
    """PCA -> Isolation Forest per group — the reference's PCA detector
    (/root/reference/src/algorithms/pca.py:130-143, 191-257) projects each
    feature vector onto the top principal components, then scores with an
    iForest in the projected space. PCA here is plain numpy SVD on the
    group's centered (capped) sample — no sklearn dependency, fully
    vectorized, deterministic under the seed."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + list(extra_cols) + list(features)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[list(features)].to_numpy(dtype=np.float64)
        out_pdf = pdf[list(keys_l) + list(extra_cols)].copy()
        if len(X) < max(8, n_components + 1):
            out_pdf["score"] = 0.0
            out_pdf[out] = np.int32(2)
            return out_pdf
        train = training_rows(X, max_train, seed)
        mu = train.mean(axis=0)
        _, _, Vt = np.linalg.svd(train - mu, full_matrices=False)
        comps = Vt[:n_components]
        Z_train = (train - mu) @ comps.T
        Z = (X - mu) @ comps.T
        forest = IsolationForest(n_trees, subsample, seed).fit(Z_train)
        s = forest.score(Z)
        thr = score_threshold
        if contamination is not None:
            thr = max(float(np.quantile(s, 1.0 - contamination)), 0.5)
        out_pdf["score"] = s
        out_pdf[out] = np.where(s > thr, -1, 1).astype(np.int32)
        return out_pdf

    return group_apply(
        df.select(*cols), keys_l, fn,
        _out_schema(df, list(keys_l) + list(extra_cols),
                    f"score double, {out} int"))


def recon_drift_check(
    spark, df: DataFrame, keys, order: str, features: Sequence[str], *,
    n_components: int = 2, K: float = 3.0, len_window: int = 20,
    train_sample: int = 4096, seed: int = 0,
    extra_cols: Sequence[str] = (), out: str = "code",
) -> DataFrame:
    """Reconstruction-error drift check — the reference's GAN detector
    (/root/reference/src/algorithms/gan.py:147-179, 293-330) is a dense
    autoencoder whose reconstruction MSE is compared against an
    exponentially-weighted moving threshold K*wavg(last len_window
    errors, incl. current). A LINEAR autoencoder is exactly PCA
    (textbook equivalence), so the semantics are reproduced with a
    numpy SVD model, no deep-learning dependency:

      1. fit: driver-side sample -> (mu, top components)  [one model,
         like the reference's single trained net]
      2. score: per-row MSE of the rank-k reconstruction — whole-batch
         matrix ops inside the bucketed per-series scan
      3. verdict: err >= K * weighted_avg(trailing window, weights
         exp(linspace(0,1,len_window)) tail-aligned) -> Error, matching
         the reference's threshold recurrence exactly (window includes
         the current error; partial tail weights during warm-up).
    """
    feats = list(features)
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]

    rows = bounded_sample_rows(df.select(*feats), train_sample, seed=seed)
    X = np.array([[r[c] for c in feats] for r in rows], dtype=np.float64)
    mu = X.mean(axis=0)
    _, _, Vt = np.linalg.svd(X - mu, full_matrices=False)
    comps = Vt[:n_components]
    bc = spark.sparkContext.broadcast((mu, comps))

    from anomaly_detection_spark.operators.neural import ewm_threshold

    cols = list(keys_l) + [order] + list(extra_cols)

    def one(g: pd.DataFrame) -> pd.DataFrame:
        mu_, comps_ = bc.value
        Xg = g[feats].to_numpy(dtype=np.float64)
        recon = mu_ + (Xg - mu_) @ comps_.T @ comps_
        err = ((Xg - recon) ** 2).mean(axis=1)
        thr = ewm_threshold(err, K, len_window)
        o = g[cols].copy()
        o["recon_err"] = err
        o[out] = np.where(err >= thr, -1, 1).astype(np.int32)
        return o

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _per_series(pdf, keys_l, one)

    return _grouped(df.select(*cols, *feats), keys_l, order, fn,
                    _out_schema(df, cols, f"recon_err double, {out} int"))


def codisp_scores(forest: "IsolationForest", X: np.ndarray) -> np.ndarray:
    """Batch Collusive Displacement (CoDisp) approximation — the scoring
    rule of the reference's RRCF detector
    (/root/reference/src/algorithms/rrcf_trees.py:98-117): for each point,
    max over its root-to-leaf path of |sibling subtree| / |own subtree|,
    averaged over trees. The reference maintains streaming insert/forget
    trees (inherently sequential); this evaluates the same displacement
    statistic on the batch-fitted random-cut trees — high CoDisp ==
    isolating the point displaces many others == outlier."""
    n = len(X)
    if n == 0:
        return np.empty(0)
    total = np.zeros(n, dtype=np.float64)
    for tree in forest.trees:
        node = np.zeros(n, dtype=np.int64)
        best = np.zeros(n, dtype=np.float64)
        active = tree["feature"][node] != -1
        while active.any():
            f = tree["feature"][node[active]]
            t = tree["threshold"][node[active]]
            go_left = X[active, f] < t
            left = tree["left"][node[active]]
            right = tree["right"][node[active]]
            nxt = np.where(go_left, left, right)
            sib = np.where(go_left, right, left)
            ratio = (tree["size"][sib].astype(np.float64)
                     / np.maximum(tree["size"][nxt].astype(np.float64), 1.0))
            best[active] = np.maximum(best[active], ratio)
            node[active] = nxt
            active = tree["feature"][node] != -1
        total += best
    return total / max(len(forest.trees), 1)


def codisp_check(
    df: DataFrame, keys, features: Sequence[str], *,
    n_trees: int = 100, subsample: int = 256, max_train: int = 20_000,
    threshold: float = 10.0, seed: int = 0,
    extra_cols: Sequence[str] = (), out: str = "code",
) -> DataFrame:
    """Per-group CoDisp verdict: Error(-1) iff mean CoDisp >= threshold
    (rrcf_trees.py's rule); groups under 8 rows Undefined."""
    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    cols = list(keys_l) + list(extra_cols) + list(features)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[list(features)].to_numpy(dtype=np.float64)
        out_pdf = pdf[list(keys_l) + list(extra_cols)].copy()
        if len(X) < 8:
            out_pdf["codisp"] = 0.0
            out_pdf[out] = np.int32(2)
            return out_pdf
        train = training_rows(X, max_train, seed)
        forest = IsolationForest(n_trees, subsample, seed).fit(train)
        s = codisp_scores(forest, X)
        out_pdf["codisp"] = s
        out_pdf[out] = np.where(s >= threshold, -1, 1).astype(np.int32)
        return out_pdf

    return group_apply(
        df.select(*cols), keys_l, fn,
        _out_schema(df, list(keys_l) + list(extra_cols),
                    f"codisp double, {out} int"))
