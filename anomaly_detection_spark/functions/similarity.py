"""Similarity search over an embedding column (array<float>).

* :func:`cosine_topk` — exact brute force: broadcast the (small) query
  set, cross-join against the corpus, dot products via ``zip_with`` +
  ``aggregate`` (JVM higher-order functions, no Python), per-query top-k
  with a window. One scan of the corpus regardless of query count — the
  correctness baseline and the right plan when queries are few.
* :func:`cosine_topk_pandas` — the same math as an Arrow-batched pandas
  UDF doing one numpy matmul per batch: (batch x dim) @ (dim x q). Faster
  constant factor when q is large; identical results.
* :func:`lsh_topk` — approximate scale path: random-hyperplane sign
  buckets over ``n_tables`` independent tables; candidates = bucket
  collisions in any table, exact per-bucket GEMM re-rank (query-occupied
  buckets only; candidate pairs never materialize). Recall is tunable
  with n_tables/n_planes.

* :func:`ivf_topk` — IVF (inverted-file) ANN: a spherical k-means
  coarse quantizer (seeded numpy Lloyd on a driver-side sample) maps
  every corpus vector to its nearest-centroid cell (one GEMM per Arrow
  batch, narrow (id, cell) rows); a query probes its ``n_probe``
  closest cells and exact-re-ranks only those cells' members. Versus
  LSH: cells adapt to the data distribution, so recall per candidate
  examined is typically higher.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anomaly_detection_spark.sampling import bounded_sample_rows
from anomaly_detection_spark.session import group_apply, local_frame


def _norm(c):
    return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, *, id_col: str = "vec_id",
    vec_col: str = "embedding", query_id: str = "query_id", k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, cosine, rank). The query
    side is broadcast — never put the corpus on the build side."""
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("cosine", dot / (F.col("_qn") * F.col("_cn")))
    )
    # Two-level top-k: a global rank window would funnel EVERY corpus row
    # of a query through one task. Partial top-k per scan partition
    # (sorted-array truncation inside a hash aggregate), then the final
    # rank runs over queries x partitions x k rows — tiny at any scale.
    partial = (
        scored.groupBy(query_id, F.spark_partition_id().alias("_pid"))
        .agg(F.slice(
            F.sort_array(
                F.collect_list(F.struct(
                    F.col("cosine").alias("c"), F.col(id_col).alias("i"))),
                asc=False,
            ), 1, k).alias("_top"))
        .select(query_id, F.explode("_top").alias("t"))
        .select(query_id, F.col("t.i").alias(id_col),
                F.col("t.c").alias("cosine"))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )


def cosine_topk_pandas(
    corpus: DataFrame, query_vecs: dict[int, np.ndarray], *,
    id_col: str = "vec_id", vec_col: str = "embedding", k: int = 10,
) -> DataFrame:
    """Same result as :func:`cosine_topk` via one numpy GEMM per Arrow
    batch, then a global per-query top-k aggregation of the per-batch
    top-k partials (algebraic, so the combine is exact)."""
    qids = sorted(query_vecs)
    Q = np.stack([np.asarray(query_vecs[i], dtype=np.float64) for i in qids])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            M = M / np.clip(np.linalg.norm(M, axis=1, keepdims=True), 1e-12, None)
            S = M @ Qn.T  # (batch, q)
            ids = pdf[id_col].to_numpy()
            rows = []
            for j, qid in enumerate(qids):
                sel = _topk_select(S[:, j], ids, k)
                rows.append(pd.DataFrame({
                    "query_id": qid, id_col: ids[sel], "cosine": S[sel, j],
                }))
            yield pd.concat(rows, ignore_index=True)

    partials = corpus.select(id_col, vec_col).mapInPandas(
        score, schema=f"query_id bigint, {id_col} bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def _collect_queries(queries: DataFrame, query_id: str, vec_col: str):
    """Driver-side query batch for the approximate paths (bounded by the
    query-set contract: the prior shapes broadcast the same rows per
    join). Returns (qids, Q, Qn) or (None, None, None) when empty."""
    q_rows = queries.select(query_id, vec_col).collect()
    if not q_rows:
        return None, None, None
    qids = [r[0] for r in q_rows]
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    Qn = Q / np.clip(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12, None)
    return qids, Q, Qn


def _topk_select(s: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k best scores under the engine-wide deterministic
    (cosine desc, id asc) ordering. A bare argpartition keeps an
    ARBITRARY member of a tied boundary group — with exact-duplicate
    vectors straddling the k cut the survivor then depends on shuffle
    order, making the approximate paths nondeterministic run-to-run.
    Partition first, then re-rank only the boundary-tie candidates."""
    if len(ids) <= k:
        return np.arange(len(ids))
    kth = s[np.argpartition(-s, k - 1)[:k]].min()
    cand = np.flatnonzero(s >= kth)  # every boundary tie competes
    order = np.lexsort((ids[cand], -s[cand]))[:k]
    return cand[order]


def _group_topk(pdf: pd.DataFrame, js: list, qids: list, Qn: np.ndarray,
                *, query_id: str, id_col: str, vec_col: str,
                k: int) -> pd.DataFrame:
    """ONE GEMM scoring a group's member vectors against its probing
    queries, emitting deterministic k-row partials per query. Shared by
    :func:`ivf_topk` and :func:`lsh_topk` so the tie-break and dtype
    handling cannot diverge between the two ANN paths."""
    M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    Mn = M / np.clip(np.linalg.norm(M, axis=1, keepdims=True), 1e-12, None)
    S = Mn @ Qn[js].T  # (members, probing queries)
    ids = pdf[id_col].to_numpy()
    sels = [_topk_select(S[:, jj], ids, k) for jj in range(len(js))]
    return pd.DataFrame({
        query_id: np.repeat(np.array([qids[j] for j in js], dtype=object),
                            [len(s) for s in sels]),
        id_col: np.concatenate([ids[s] for s in sels]),
        "cosine": np.concatenate([S[s, jj] for jj, s in enumerate(sels)]),
    })


# Seeded quantizer fits are pure functions of (corpus plan, sample
# params, k-means params): bounded_sample_rows is deterministic given
# the plan + partitioning, and spherical_kmeans is seeded numpy. Bench
# best-of-N and the driver's oracle re-runs rebuild the SAME query, so
# without a memo every invocation re-pays a corpus sample collect + a
# driver Lloyd fit whose product — one small centroid matrix — serves
# every batch at any scale (the same shape as the neural-fit memo,
# neural.py _AE_MEMO). Outer level keys on DataFrame.semanticHash()
# (plan identity; caveat shared with any plan-keyed cache: a path whose
# FILES changed under an identical plan would reuse stale centroids —
# fine for an ANN coarse quantizer, where any fixed quantizer is valid
# and recall is the tested contract). Inner level keys the Lloyd fit on
# a digest of the actual sample. _QUANTIZER_FITS counts true fits for
# the fit-called-once regression test.
_QUANTIZER_MEMO: dict = {}
_QUANTIZER_MEMO_MAX = 8
_KMEANS_MEMO: dict = {}
_QUANTIZER_FITS = 0


def clear_quantizer_memo() -> None:
    _QUANTIZER_MEMO.clear()
    _KMEANS_MEMO.clear()


def fit_ivf_quantizer(
    corpus: DataFrame, vec_col: str, *, n_cells: int, train_sample: int,
    kmeans_iters: int, seed: int,
) -> np.ndarray:
    """Memoized (sample -> spherical k-means) coarse-quantizer fit.
    A memo hit skips BOTH the driver-side sample collect (a bounded
    Spark job, but a job nonetheless) and the Lloyd iterations."""
    vecs = corpus.select(vec_col)
    key = (vecs.semanticHash(), vec_col, n_cells, train_sample,
           kmeans_iters, seed)
    hit = _QUANTIZER_MEMO.get(key)
    if hit is not None:
        return hit
    rows = bounded_sample_rows(vecs, train_sample, seed=seed)
    X = np.ascontiguousarray(
        np.stack([np.asarray(r[0], dtype=np.float64) for r in rows]))
    import hashlib
    xkey = (hashlib.sha256(X.tobytes()).hexdigest(), X.shape, n_cells,
            kmeans_iters, seed)
    C = _KMEANS_MEMO.get(xkey)
    if C is None:
        global _QUANTIZER_FITS
        _QUANTIZER_FITS += 1
        C = spherical_kmeans(X, n_cells, iters=kmeans_iters, seed=seed)
        if len(_KMEANS_MEMO) >= _QUANTIZER_MEMO_MAX:
            _KMEANS_MEMO.pop(next(iter(_KMEANS_MEMO)))
        _KMEANS_MEMO[xkey] = C
    if len(_QUANTIZER_MEMO) >= _QUANTIZER_MEMO_MAX:
        _QUANTIZER_MEMO.pop(next(iter(_QUANTIZER_MEMO)))
    _QUANTIZER_MEMO[key] = C
    return C


def spherical_kmeans(X: np.ndarray, k: int, *, iters: int = 20,
                     seed: int = 0) -> np.ndarray:
    """Seeded Lloyd iterations on unit-normalized vectors (cosine
    k-means): assignment = argmax dot, update = normalized mean. Pure
    vectorized numpy — one (n, k) GEMM per iteration. Empty clusters are
    re-seeded from the farthest points (deterministic)."""
    rng = np.random.default_rng(seed)
    Xn = X / np.clip(np.linalg.norm(X, axis=1, keepdims=True), 1e-12, None)
    k = min(k, len(Xn))
    C = Xn[rng.choice(len(Xn), size=k, replace=False)]
    for _ in range(iters):
        S = Xn @ C.T                       # (n, k)
        assign = S.argmax(axis=1)
        newC = np.zeros_like(C)
        np.add.at(newC, assign, Xn)
        counts = np.bincount(assign, minlength=k)
        empty = counts == 0
        if empty.any():
            worst = np.argsort(S.max(axis=1))[: int(empty.sum())]
            newC[empty] = Xn[worst]
            counts[empty] = 1
        C = newC / np.clip(np.linalg.norm(newC, axis=1, keepdims=True),
                           1e-12, None)
    return C


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, *, id_col: str = "vec_id",
    vec_col: str = "embedding", query_id: str = "query_id", k: int = 10,
    n_cells: int = 64, n_probe: int = 8, train_sample: int = 4096,
    kmeans_iters: int = 20, seed: int = 0,
) -> DataFrame:
    """IVF approximate top-k by cosine: (query_id, vec_id, cosine, rank).

    Train — sample up to ``train_sample`` corpus vectors to the driver
    (bounded, independent of corpus size) and fit the spherical-k-means
    coarse quantizer; the fit is memoized on the corpus plan + params
    (:func:`fit_ivf_quantizer`), so repeated invocations over the same
    corpus — bench best-of-N, the driver's oracle re-run, every query
    batch against one index at scale — pay neither the sample job nor
    the Lloyd iterations again. Index — ONE GEMM per Arrow batch assigns each
    corpus vector to its nearest centroid; rows whose cell no query
    probes are dropped AT THE SCAN, so the only wide op is one shuffle
    of the probed cells' (id, cell, vector) rows. Search — the query
    batch is driver-resident (bounded: the prior shape broadcast it per
    join, the same size contract); per probed cell ONE GEMM scores
    members x probing queries and emits k-row partials; a final window
    merges partials — lossless, since any global top-k member must be
    top-k within some probed cell it shares with the query. Candidate
    (query, id) pairs are NEVER materialized: the previous pair-join +
    dedup + per-pair vector fetch moved 13M rows and ~6 GB of vectors at
    1024 queries x 200k corpus (24s); this shape runs the same search in
    ~3s and scales linearly in corpus size with a single narrow shuffle
    (BENCH/BASELINE.md, "Round-4: ANN operating points"). Recall is
    tuned with n_probe/n_cells."""
    C = fit_ivf_quantizer(corpus, vec_col, n_cells=n_cells,
                          train_sample=train_sample,
                          kmeans_iters=kmeans_iters, seed=seed)

    id_type = corpus.select(id_col).schema[0].dataType.simpleString()
    q_type = queries.select(query_id).schema[0].dataType.simpleString()
    vec_type = corpus.select(vec_col).schema[0].dataType.simpleString()
    out_schema = (f"`{query_id}` {q_type}, `{id_col}` {id_type}, "
                  "cosine double")

    spark = corpus.sparkSession
    qids, _, Qn = _collect_queries(queries, query_id, vec_col)
    if qids is None:
        return local_frame(spark, [], out_schema + ", rank int")
    p = min(n_probe, C.shape[0])
    probe = np.argpartition(-(Qn @ C.T), p - 1, axis=1)[:, :p]
    cell_queries: dict[int, list[int]] = {}
    for j in range(len(qids)):
        for c in probe[j]:
            cell_queries.setdefault(int(c), []).append(j)
    probed = np.array(sorted(cell_queries), dtype=np.int32)

    def assign_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            M = M / np.clip(np.linalg.norm(M, axis=1, keepdims=True),
                            1e-12, None)
            cells = (M @ C.T).argmax(axis=1).astype(np.int32)
            keep = np.isin(cells, probed)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy()[keep],
                "cell": cells[keep],
                vec_col: pdf[vec_col].to_numpy()[keep],
            })

    indexed = corpus.select(id_col, vec_col).mapInPandas(
        assign_cells,
        schema=f"`{id_col}` {id_type}, cell int, `{vec_col}` {vec_type}")

    def cell_topk(key, pdf):
        js = cell_queries.get(int(key[0]))
        if not js or not len(pdf):
            return pd.DataFrame({query_id: [], id_col: [], "cosine": []})
        return _group_topk(pdf, js, qids, Qn, query_id=query_id,
                           id_col=id_col, vec_col=vec_col, k=k)

    partials = group_apply(indexed, ["cell"], cell_topk, out_schema,
                           max_groups=len(probed))
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, *, id_col: str = "vec_id",
    vec_col: str = "embedding", query_id: str = "query_id", k: int = 10,
    n_planes: int = 8, n_tables: int = 4, seed: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: per table, bucket = sign pattern over n_planes
    seeded hyperplanes; candidates = same (table, bucket) as the query in
    ANY table. Shape mirrors :func:`ivf_topk`: query buckets are computed
    driver-side (the query batch is broadcast-small by contract), corpus
    buckets in ONE GEMM per Arrow batch over the stacked plane matrix (a
    higher-order aggregate(zip_with) formulation is interpreted per
    element, PLANS.md lesson 1); rows whose (table, bucket) no query
    occupies are dropped at the scan, so the only wide op shuffles the
    matching buckets' (id, tbl, bkt, vector) rows. Per bucket one GEMM
    scores members x that bucket's queries and emits k-row partials;
    cross-table duplicates collapse via max(cosine) per (query, id) over
    the TINY partial set (two buckets' GEMMs can differ in the last ulp,
    so keeping an arbitrary duplicate would be shuffle-order-dependent),
    then a window merges — lossless for global top-k.
    Candidate (query, id) pairs never materialize (the previous
    pair-join + per-pair vector fetch took 11-50s at 1024 queries x 200k
    corpus; this shape ~3-4s, BENCH/BASELINE.md "Round-4: ANN operating
    points")."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables * n_planes, dim))
    shifts = np.arange(n_planes, dtype=np.int64)

    id_type = corpus.select(id_col).schema[0].dataType.simpleString()
    q_type = queries.select(query_id).schema[0].dataType.simpleString()
    vec_type = corpus.select(vec_col).schema[0].dataType.simpleString()
    out_schema = (f"`{query_id}` {q_type}, `{id_col}` {id_type}, "
                  "cosine double")

    spark = corpus.sparkSession
    qids, Q, Qn = _collect_queries(queries, query_id, vec_col)
    if qids is None:
        return local_frame(spark, [], out_schema + ", rank int")
    qbits = (Q @ planes.T >= 0).astype(np.int64).reshape(
        len(qids), n_tables, n_planes)
    qbkt = (qbits << shifts).sum(axis=2)  # (q, tbl)
    bucket_queries: dict[tuple[int, int], list[int]] = {}
    for j in range(len(qids)):
        for t in range(n_tables):
            bucket_queries.setdefault((t, int(qbkt[j, t])), []).append(j)
    tbl_buckets = [
        np.array(sorted({b for (t, b) in bucket_queries if t == ti}),
                 dtype=np.int64)
        for ti in range(n_tables)
    ]

    def bucketize_keep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (X @ planes.T >= 0).astype(np.int64)
            bkt = (bits.reshape(len(pdf), n_tables, n_planes)
                   << shifts).sum(axis=2)  # (rows, tbl)
            ids = pdf[id_col].to_numpy()
            vecs = pdf[vec_col].to_numpy()
            # whole-batch numpy (no per-element list building on the
            # corpus hot path): one kept-index array per table, then
            # concatenate — PLANS.md lesson 1
            idx = [np.flatnonzero(np.isin(bkt[:, t], tbl_buckets[t]))
                   for t in range(n_tables)]
            if not any(len(i) for i in idx):
                continue
            yield pd.DataFrame({
                id_col: np.concatenate([ids[i] for i in idx]),
                "tbl": np.repeat(np.arange(n_tables, dtype=np.int32),
                                 [len(i) for i in idx]),
                "bkt": np.concatenate([bkt[i, t]
                                       for t, i in enumerate(idx)]),
                vec_col: np.concatenate([vecs[i] for i in idx]),
            })

    members = corpus.select(id_col, vec_col).mapInPandas(
        bucketize_keep,
        schema=(f"`{id_col}` {id_type}, tbl int, bkt bigint, "
                f"`{vec_col}` {vec_type}"))

    def bucket_topk(key, pdf):
        js = bucket_queries.get((int(key[0]), int(key[1])))
        if not js or not len(pdf):
            return pd.DataFrame({query_id: [], id_col: [], "cosine": []})
        return _group_topk(pdf, js, qids, Qn, query_id=query_id,
                           id_col=id_col, vec_col=vec_col, k=k)

    partials = (
        group_apply(members, ["tbl", "bkt"], bucket_topk, out_schema,
                    max_groups=len(bucket_queries))
        # a pair matching in several tables is scored by DIFFERENT
        # per-bucket GEMMs whose summation order may differ in the last
        # ulp — max over the duplicates (not dropDuplicates, which keeps
        # a shuffle-order-dependent survivor) keeps the rank input
        # deterministic
        .groupBy(query_id, id_col).agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )
