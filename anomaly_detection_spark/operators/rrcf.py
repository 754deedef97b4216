"""Streaming Robust Random Cut Forest — the reference's RRCF_trees
detector (/root/reference/src/algorithms/rrcf_trees.py:54-127: per
message, forget the oldest point once ``tree_size`` is reached, insert
the new point into every tree, score = mean CoDisp) re-implemented from
the PUBLISHED algorithm (Guha, Mishra, Roy, Schrijvers — "Robust random
cut forest based anomaly detection on streams", ICML 2016; the
reference delegates to the open-source ``rrcf`` package, which is not
in this container, so the tree maintenance is hand-rolled here and
differentially tested against structural invariants).

Execution model mirrors the reference's: the recurrence is inherently
sequential per stream (each verdict depends on the trees built from all
prior points), so one Python pass per series inside ``applyInPandas``,
parallel ACROSS series — the same bucketed per-series shape as the
other sequential recurrences (sequential.py). A 100-TB corpus has
series count >> cores; a single pathological series is bounded by the
reference's own semantics (every point must thread one tree). The tree
kernel is pure-Python scalars/lists, not numpy: feature dimension is
small (2-16), and per-node numpy allocations measured ~10x slower than
scalar loops at that width.

Round-2 note: the batch CoDisp statistic lives in
mvoutlier.codisp_check; this module adds the round-3 streaming
insert/forget maintenance that was previously documented out of scope.
"""

from __future__ import annotations

import random
from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame


class _Node:
    __slots__ = ("parent", "left", "right", "dim", "cut",
                 "bmin", "bmax", "n", "x", "count")

    def __init__(self):
        self.parent = None
        self.left = None
        self.right = None
        self.dim = -1          # -1 -> leaf
        self.cut = 0.0
        self.bmin = None       # list[float]
        self.bmax = None
        self.n = 0             # leaves in subtree (incl. duplicate counts)
        self.x = None          # leaf point, tuple[float]
        self.count = 0         # duplicate multiplicity (leaf)


class RCTree:
    """One random-cut tree with streaming insert / forget / CoDisp.

    Insert follows the paper's InsertPoint: extend the node's bounding
    box with the new point, draw a cut uniformly over the extended box
    (dimension chosen proportionally to side length); if the cut
    separates the point from the old box, split here, else recurse into
    the child given by the node's OWN stored cut. Forget replaces the
    leaf's parent with its sibling and repairs boxes/counts up the
    path. CoDisp(x) = max over ancestors of |sibling| / |subtree(x)|.
    Duplicate points (zero extended span) increment the leaf count —
    constant sensor streams are the common case, not the corner case.
    """

    def __init__(self, seed):
        self.rng = random.Random(repr(seed))
        self.root: _Node | None = None
        self.leaves: dict[int, _Node] = {}

    # -- maintenance -------------------------------------------------

    def insert(self, x: Sequence[float], index: int) -> None:
        x = tuple(x)
        d_ = len(x)
        leaf = _Node()
        leaf.x = x
        leaf.count = 1
        leaf.n = 1
        leaf.bmin = list(x)
        leaf.bmax = list(x)
        if self.root is None:
            self.root = leaf
            self.leaves[index] = leaf
            return
        if d_ == 1:
            self._insert1(x, index, leaf)
            return
        node = self.root
        while True:
            nbmin, nbmax = node.bmin, node.bmax
            total = 0.0
            for d in range(d_):
                lo = nbmin[d] if nbmin[d] < x[d] else x[d]
                hi = nbmax[d] if nbmax[d] > x[d] else x[d]
                total += hi - lo
            if total <= 0.0:           # x duplicates this whole subtree
                while node.dim >= 0:   # (a zero-span subtree is a leaf)
                    node = node.left
                node.count += 1
                up = node
                while up is not None:
                    up.n += 1
                    up = up.parent
                self.leaves[index] = node
                return
            r = self.rng.uniform(0.0, total)
            if r >= total:              # uniform() can return its bound
                r = total * 0.999999999999
            acc = 0.0
            dim, cut = d_ - 1, 0.0
            for d in range(d_):
                lo = nbmin[d] if nbmin[d] < x[d] else x[d]
                hi = nbmax[d] if nbmax[d] > x[d] else x[d]
                span = hi - lo
                if r < acc + span:
                    dim, cut = d, lo + (r - acc)
                    break
                acc += span
            else:
                # unreachable with the clamp above (acc accumulates the
                # exact same additions as total); defensive: a MID cut on
                # a positive-span dim can never put the new point on the
                # wrong side of the routing test, unlike a boundary cut
                for d in range(d_ - 1, -1, -1):
                    lo = nbmin[d] if nbmin[d] < x[d] else x[d]
                    hi = nbmax[d] if nbmax[d] > x[d] else x[d]
                    if hi - lo > 0:
                        dim, cut = d, lo + (hi - lo) / 2.0
                        break
            if cut < nbmin[dim] or cut >= nbmax[dim]:
                # the cut separates x from the whole subtree: new parent
                inner = _Node()
                inner.dim = dim
                inner.cut = cut
                inner.bmin = [nbmin[d] if nbmin[d] < x[d] else x[d]
                              for d in range(d_)]
                inner.bmax = [nbmax[d] if nbmax[d] > x[d] else x[d]
                              for d in range(d_)]
                inner.n = node.n + 1
                if x[dim] <= cut:
                    inner.left, inner.right = leaf, node
                else:
                    inner.left, inner.right = node, leaf
                inner.parent = node.parent
                if node.parent is None:
                    self.root = inner
                elif node.parent.left is node:
                    node.parent.left = inner
                else:
                    node.parent.right = inner
                node.parent = inner
                leaf.parent = inner
                up = inner.parent
                while up is not None:
                    up.n += 1
                    ub, uB = up.bmin, up.bmax
                    for d in range(d_):
                        if x[d] < ub[d]:
                            ub[d] = x[d]
                        if x[d] > uB[d]:
                            uB[d] = x[d]
                    up = up.parent
                self.leaves[index] = leaf
                return
            # no separation: recurse by the node's own stored cut (boxes
            # are repaired by the insertion point's upward pass)
            node = node.left if x[node.dim] <= node.cut else node.right

    def _insert1(self, x: tuple, index: int, leaf: _Node) -> None:
        """Univariate fast path of :meth:`insert` — the common case (one
        value column per series). Same algorithm, same RANDOM STREAM
        (``uniform(0, t)`` is exactly ``t * random()`` — one underlying
        draw, bit-identical value), with the per-dimension loops unrolled
        to scalars; measured ~1.6x on the full-window kernel. Kept
        verdict-identical to the general path by construction (regression
        signature test pins both paths)."""
        x0 = x[0]
        node = self.root
        rand = self.rng.random
        while True:
            b0 = node.bmin[0]
            B0 = node.bmax[0]
            lo = b0 if b0 < x0 else x0
            hi = B0 if B0 > x0 else x0
            total = hi - lo
            if total <= 0.0:           # x duplicates this whole subtree
                while node.dim >= 0:
                    node = node.left
                node.count += 1
                up = node
                while up is not None:
                    up.n += 1
                    up = up.parent
                self.leaves[index] = node
                return
            r = total * rand()
            if r >= total:              # random() can return ~1.0
                r = total * 0.999999999999
            cut = lo + r
            if cut < b0 or cut >= B0:
                # the cut separates x from the whole subtree: new parent
                inner = _Node()
                inner.dim = 0
                inner.cut = cut
                inner.bmin = [lo]
                inner.bmax = [hi]
                inner.n = node.n + 1
                if x0 <= cut:
                    inner.left, inner.right = leaf, node
                else:
                    inner.left, inner.right = node, leaf
                inner.parent = node.parent
                if node.parent is None:
                    self.root = inner
                elif node.parent.left is node:
                    node.parent.left = inner
                else:
                    node.parent.right = inner
                node.parent = inner
                leaf.parent = inner
                up = inner.parent
                while up is not None:
                    up.n += 1
                    ub = up.bmin
                    uB = up.bmax
                    if x0 < ub[0]:
                        ub[0] = x0
                    if x0 > uB[0]:
                        uB[0] = x0
                    up = up.parent
                self.leaves[index] = leaf
                return
            node = node.left if x0 <= node.cut else node.right

    def forget(self, index: int) -> None:
        leaf = self.leaves.pop(index, None)
        if leaf is None:
            return
        if leaf.count > 1:
            leaf.count -= 1
            up = leaf
            while up is not None:
                up.n -= 1
                up = up.parent
            return
        parent = leaf.parent
        if parent is None:
            self.root = None
            return
        sib = parent.left if parent.right is leaf else parent.right
        grand = parent.parent
        sib.parent = grand
        if grand is None:
            self.root = sib
        else:
            if grand.left is parent:
                grand.left = sib
            else:
                grand.right = sib
        up = grand
        d_ = len(leaf.x)
        if d_ == 1:                    # univariate fast path (common case)
            while up is not None:
                up.n -= 1
                left, right = up.left, up.right
                lb = left.bmin[0]
                rb = right.bmin[0]
                lB = left.bmax[0]
                rB = right.bmax[0]
                up.bmin[0] = lb if lb < rb else rb
                up.bmax[0] = lB if lB > rB else rB
                up = up.parent
            return
        while up is not None:
            up.n -= 1
            lb, lB = up.left.bmin, up.left.bmax
            rb, rB = up.right.bmin, up.right.bmax
            ub, uB = up.bmin, up.bmax
            for d in range(d_):
                ub[d] = lb[d] if lb[d] < rb[d] else rb[d]
                uB[d] = lB[d] if lB[d] > rB[d] else rB[d]
            up = up.parent

    # -- scoring -----------------------------------------------------

    def codisp(self, index: int) -> float:
        node = self.leaves.get(index)
        if node is None or node.parent is None:
            return 0.0
        best = 0.0
        while node.parent is not None:
            parent = node.parent
            sib = parent.left if parent.right is node else parent.right
            r = sib.n / node.n
            if r > best:
                best = r
            node = parent
        return best


class RRCFStream:
    """The reference's forest recurrence: ``num_trees`` RCTrees, every
    point inserted into all of them; once a tree holds ``tree_size``
    points the oldest is forgotten first (sliding window); score =
    mean CoDisp over trees (rrcf_trees.py:99-109)."""

    def __init__(self, num_trees: int, tree_size: int, seed: int = 0):
        self.trees = [RCTree((seed, t)) for t in range(num_trees)]
        self.tree_size = tree_size
        self.index = 0

    def insert_score(self, x) -> float:
        score = 0.0
        idx, forget_idx = self.index, self.index - self.tree_size
        for tree in self.trees:
            if len(tree.leaves) >= self.tree_size:
                tree.forget(forget_idx)
            tree.insert(x, idx)
            score += tree.codisp(idx)
        self.index += 1
        return score / len(self.trees)


def rrcf_stream_check(
    df: DataFrame, keys, order: str, features: Sequence[str], *,
    num_trees: int = 10, tree_size: int = 128, threshold: float = 10.0,
    seed: int = 0, stride: int = 1, extra_cols: Sequence[str] = (),
    out: str = "code",
) -> DataFrame:
    """Per-series streaming RRCF verdicts: (.., codisp double, code int)
    with code = -1 where the mean CoDisp exceeds ``threshold`` (the
    reference emits the score itself as the status code on anomaly;
    here the score rides its own column and the code stays in the
    engine's ladder convention).

    ``stride=k`` (k>1) is the wall-clock cap for a pathological HOT
    series: only every k-th point threads the forest (a uniform
    subsample of the sliding window — the window then spans k*tree_size
    raw points); skipped rows are honestly Undefined (codisp NULL,
    code 2), never silently scored. stride=1 (default) is the
    reference's exact per-point semantics. Kernel throughput is
    single-core-bounded per series: ~8.3k points/s at dim 1 (univariate
    fast path; ~3.4k at dim 4) once the tree_size=128 window is FULL,
    ~25k points/s in the short-series regime where trees never fill
    (measured; BENCH/BASELINE.md, "Round-4: RRCF hot-series bound") — stride
    divides that wall by ~k at the cost of verdict coverage."""
    from anomaly_detection_spark.operators.sequential import (
        _grouped, _out_schema, _per_series,
    )

    keys_l = keys if isinstance(keys, (list, tuple)) else [keys]
    feats = list(features)
    cols = list(keys_l) + [order] + list(extra_cols)
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")

    def one(g: pd.DataFrame) -> pd.DataFrame:
        X = g[feats].to_numpy(dtype=np.float64)
        rows = X[::stride].tolist()       # python floats for the kernel
        stream = RRCFStream(num_trees, tree_size, seed)
        score = stream.insert_score
        sub = np.fromiter((score(r) for r in rows), dtype=np.float64,
                          count=len(rows))
        o = g[cols].copy()
        if stride == 1:
            scores = sub
            codes = np.where(scores > threshold, -1, 1).astype(np.int32)
        else:
            scores = np.full(len(g), np.nan)
            scores[::stride] = sub
            codes = np.full(len(g), 2, dtype=np.int32)  # Undefined
            codes[::stride] = np.where(sub > threshold, -1, 1)
        o["codisp"] = scores
        o[out] = codes
        return o

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _per_series(pdf, keys_l, one)

    return _grouped(df.select(*cols, *feats), keys_l, order, fn,
                    _out_schema(df, cols, f"codisp double, {out} int"))
