"""Deduplication operators for training-data pipelines — exact and
near-duplicate, each designed around its shuffle:

* exact: sha256 hash-aggregate; one shuffle on the 32-byte digest, keeps
  the lowest doc id per digest (deterministic winner).
* MinHash + LSH: shingles -> H minhashes (explode + codegen'd min
  aggregates) -> B bands; candidate pairs verified with exact Jaccard on
  shingle sets. The all-pairs O(n^2) never materializes — only
  same-bucket pairs do.
* SimHash: 64-bit token-weighted signature in mapInPandas (numpy bit
  ops), near-dup = Hamming distance <= r via 4-block pigeonhole buckets
  (any r<=3 difference leaves one identical 16-bit block -> shared
  bucket), then exact popcount verify.
* embedding cosine near-dup: random-hyperplane sign buckets then exact
  cosine verify inside buckets (see similarity.py for the generic ANN).

Every near-dup path builds its candidates with :func:`_bucket_pairs`:
one shuffle groups members per bucket and each bucket emits its own
pairs — no self-join, which would recompute the signature pipeline per
side. MinHash and embedding drop pathologically hot buckets (a viral
shingle or hyperplane cell) with a ``max_bucket`` bound, the standard
trade in web-scale dedup; SimHash keeps every bucket.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from anomaly_detection_spark.functions.text import char_shingles


def _scope_candidate_persist(pairs: DataFrame, cand_ids: DataFrame) -> DataFrame:
    """Materialize the (tiny) verified-pair result and release the
    candidate-set persist. ``localCheckpoint`` keeps the pairs
    DISTRIBUTED (never a driver collect — at corpus scale the pair set
    can be billions of rows) and its blocks are RDD-level, so the
    ContextCleaner reclaims them when the frame is garbage-collected —
    unlike CacheManager persists, which outlive every reference."""
    out = pairs.localCheckpoint(eager=True)
    cand_ids.unpersist()
    return out


def _bucket_pairs(rows: DataFrame, bucket_cols: list[str], member: Column,
                  *, max_bucket: int | None = None) -> DataFrame:
    """Distinct in-bucket pairs ``(id_a, id_b)`` of ``member`` values
    (id_a < id_b in array-sort order) for every bucket of ``rows`` with
    2..``max_bucket`` members (no upper bound when ``None``).

    One shuffle groups the members per bucket and each bucket emits its
    own pair combinations — NO self-join (a self-join would recompute
    the whole signature pipeline for each side). The bound caps the pair
    fan-out of a bucket at max_bucket^2/2."""
    m = F.col("_m")
    size = F.size(m)
    keep = size > 1
    if max_bucket is not None:
        keep = keep & (size <= max_bucket)
    pairs = F.flatten(F.transform(
        m, lambda x, i: F.transform(
            F.slice(m, i + 2, size),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b"))),
    ))
    return (
        rows.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(member)).alias("_m"))
        .filter(keep)
        .select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def _candidates(banded: DataFrame, bucket_cols: list[str], *,
                max_bucket: int,
                persist_registry: list | None) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs of the ``_id`` rows of ``banded`` that share a
    bucket, persisted, plus the set of docs (``_id``) in any pair.

    The pairs feed BOTH the verify semi-join and the final pair join;
    without materialization the whole signature pipeline executes twice
    (measured 2.5x on sf0.01 — the two consumers' subplans differ, so
    Spark never plans a ReusedExchange). Candidates are a vanishing
    fraction of the corpus, so the persist is small. It is appended to
    ``persist_registry`` (when given) for the caller to release."""
    cand_ids = _bucket_pairs(banded, bucket_cols, F.col("_id"),
                             max_bucket=max_bucket)
    cand_ids = cand_ids.persist(StorageLevel.MEMORY_AND_DISK)
    if persist_registry is not None:
        persist_registry.append(cand_ids)
    cand_docs = cand_ids.select(F.col("id_a").alias("_id")).union(
        cand_ids.select(F.col("id_b").alias("_id"))
    ).distinct()
    return cand_ids, cand_docs


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(digest, n_copies, keep_id, dup_ids): every content-identical group
    with >1 member. Winner = min id (deterministic)."""
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str, *,
                ranked: bool = False, rank_col: str = "_rn") -> DataFrame:
    """Keep one row per distinct content (min id wins): one scan, one
    shuffle on the digest, rank-1 filter. (An aggregate + semi-join
    formulation scans and hashes the table twice.) ``ranked=True``
    returns the frame WITH the rank column instead of filtering — the
    curation pipeline uses it so its keeper accounting shares this exact
    dedup definition rather than re-implementing it."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    out = df.withColumn(rank_col, F.row_number().over(w))
    if ranked:
        return out
    return out.filter(F.col(rank_col) == 1).drop(rank_col)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, *,
    shingle_k: int = 8, n_hashes: int = 16, bands: int = 4,
    jaccard_threshold: float = 0.7, max_bucket: int = 64,
    eager: bool = False, persist_registry: list | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Stage 1 computes signatures inline (no shuffle). Stage 2 explodes to
    one row per band and shuffles on the band-hash — the only wide op.
    Stage 3 verifies candidates with exact Jaccard over shingle sets
    (array_intersect/union sizes, JVM-side).

    ``eager=True`` materializes the (tiny) pair result now and releases
    the internal candidate-set persist before returning, so one-shot
    callers leave no cached blocks behind for the session lifetime;
    default lazy keeps the pure-pipeline shape. Lazy callers that want
    cleanup pass ``persist_registry`` (a list) and unpersist its frames
    once their own action has run (curation's report does this).
    """
    rows_per_band = n_hashes // bands

    # Stage 1 — signatures via explode -> codegen'd hash aggregate (HOF
    # lambdas are interpreted, so H array_min(transform(...)) passes are
    # much slower than H min-aggregates over exploded shingles).
    # explode RAW shingle OFFSETS then substring+hash as a flat projection
    # (higher-order-function lambdas are interpreted per element; explode+
    # substring+xxhash64 stay inside whole-stage codegen). Min over
    # duplicates == min over the set, so no distinct pass. Each shingle is
    # hashed once; the H minhash values derive from re-hashing the 8-byte
    # base hash — far cheaper than H string hashes.
    n = F.length(text_col)
    starts = F.sequence(F.lit(1), F.greatest(n - (shingle_k - 1), F.lit(1)))
    sig = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"),
                  F.explode(starts).alias("_i"))
        .select("_id",
                F.xxhash64(F.substring(F.col("_t"), F.col("_i"), shingle_k))
                .alias("_hb"))
        .groupBy("_id")
        .agg(*[F.min(F.xxhash64("_hb", F.lit(i))).alias(f"_h{i}")
               for i in range(n_hashes)])
    )

    # Stage 2 — bands as NARROW rows (_id, band, bh): never shuffle the
    # multi-KB shingle arrays through the band explode or the bucket shuffle.
    banded = sig.select(
        "_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[F.col(f"_h{b * rows_per_band + r}")
                          for r in range(rows_per_band)]
                    ).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bh")

    cand_ids, cand_docs = _candidates(
        banded, ["band", "bh"], max_bucket=max_bucket,
        persist_registry=persist_registry)

    # Stage 3 — exact-Jaccard verify: shingles recomputed ONLY for docs
    # that appear in a candidate pair (broadcast semi-join pushdown), so
    # the expensive arrays exist for a vanishing fraction of the corpus.
    # join BEFORE computing shingles — a projection above the join would
    # evaluate the (interpreted) shingle HOF for every doc in the corpus
    sh = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        .join(F.broadcast(cand_docs), "_id", "left_semi")
        .select("_id", char_shingles(F.col("_t"), k=shingle_k).alias("_sh"))
    )
    pairs = (
        cand_ids
        .join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")),
              "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")),
              "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = (
        pairs.withColumn("jaccard",
                         F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _scope_candidate_persist(out, cand_ids) if eager else out


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, *,
    shingle_k: int = 8, jaccard_threshold: float = 0.7,
    length_band: float = 0.2,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs with a length-band prefilter
    (docs whose lengths differ by more than ``length_band`` cannot reach
    the threshold: J >= t implies len ratio >= t on shingle counts).
    Quadratic within a length bucket — the small-data / verification path;
    LSH above is the scale path."""
    base = df.select(
        F.col(id_col).alias("_id"),
        char_shingles(F.col(text_col), k=shingle_k).alias("_sh"),
        F.length(text_col).alias("_len"),
    )
    lo = 1.0 - length_band
    # geometric length bucket as an EQUI-join key (VERDICT r4 #5): two
    # docs inside the band ratio r = 1/lo differ by <= 1 in
    # floor(log_r(len+1)), so duplicating one side into its +-1 neighbor
    # buckets makes every band-eligible pair meet on an equality — Spark
    # plans a shuffled hash/sort-merge join instead of a BNLJ over the
    # whole table. The exact band inequalities stay in the condition, so
    # the pair set is byte-identical; each pair meets in exactly one
    # bucket (the b side keeps its single true bucket).
    import math
    if lo <= 0.0:
        # length_band >= 1.0 disables the prefilter: every pair is
        # band-eligible, so bucket everything together (the caller asked
        # for the all-pairs verification join; log(1/lo) would raise).
        bkt = F.lit(0).cast("long")
    else:
        lr = max(math.log(1.0 / lo), 1e-9) if lo < 1.0 else 1e-9
        bkt = F.floor(
            F.log(F.col("_len") + F.lit(1.0)) / F.lit(lr)).cast("long")
    a = base.withColumn(
        "_jb", F.explode(F.array(bkt - 1, bkt, bkt + 1))).alias("a")
    b = base.withColumn("_jb", bkt).alias("b")
    cand = a.join(
        b,
        (F.col("a._jb") == F.col("b._jb"))
        & (F.col("a._id") < F.col("b._id"))
        & (F.col("b._len") >= F.col("a._len") * lo)
        & (F.col("a._len") >= F.col("b._len") * lo),
    )
    inter = F.size(F.array_intersect("a._sh", "b._sh")).cast("double")
    union = F.size(F.array_union("a._sh", "b._sh")).cast("double")
    return (
        cand.select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per doc (Charikar): sum +-1 over token-hash bits,
    sign -> bit. Vectorized numpy inside mapInPandas (token hashing and
    bit unpacking are whole-array ops). Output: (id, simhash bigint)."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            tokens = pdf[text_col].fillna("").astype(str).str.split().explode()
            valid = tokens.notna() & (tokens != "")
            v = np.zeros((len(pdf), 64), dtype=np.int32)
            if valid.any():
                h = pd.util.hash_pandas_object(
                    tokens[valid], index=False
                ).to_numpy().astype(np.uint64)
                # doc row position of each token (explode keeps the index)
                pos = pd.Index(pdf.index).get_indexer(tokens.index[valid])
                # sum(+-1 per bit) == 2*sum(bit) - n_tokens, and explode
                # keeps each doc's tokens CONSECUTIVE, so one
                # np.add.reduceat over the doc boundaries replaces the
                # unbuffered np.add.at scatter (r5: query wall at sf1
                # 8.3 -> 6.2s; integer sums — bit-identical signatures)
                bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int8)
                seg = np.flatnonzero(
                    np.concatenate(([True], pos[1:] != pos[:-1])))
                ones = np.add.reduceat(bits, seg, axis=0).astype(np.int32)
                cnt = np.diff(np.append(seg, len(pos))).astype(np.int32)
                v[pos[seg]] = 2 * ones - cnt[:, None]
            sig = ((v > 0).astype(np.uint64) << shifts).sum(axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "simhash": sig.astype(np.int64),
            })

    return df.select(id_col, text_col).mapInPandas(
        compute, schema=f"{id_col} bigint, simhash bigint"
    )


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, *, max_hamming: int = 3
) -> DataFrame:
    """Hamming-<=r pairs via the pigeonhole block join: split the 64-bit
    signature into r+1 blocks; any pair within distance r agrees on at
    least one block, so candidates = equi-join per block (narrow, indexed
    shuffle), then exact popcount verify. r defaults to 3 -> 4 blocks of
    16 bits."""
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    sigs = simhash_signatures(df, id_col, text_col)
    blocks = sigs.select(
        F.col(id_col).alias("_id"), "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftrightunsigned("simhash", i * width)
                    .bitwiseAND(F.lit((1 << width) - 1)).alias("bv"),
                )
                for i in range(n_blocks)
            ])
        ).alias("bb"),
    ).select("_id", "simhash", "bb.blk", "bb.bv")
    # each (blk, bv) bucket carries (id, sig) members, so the verify
    # needs no join back to the signatures
    cand = _bucket_pairs(
        blocks, ["blk", "bv"],
        F.struct(F.col("_id").alias("i"), F.col("simhash").alias("s")),
    ).select(F.col("id_a.i").alias("id_a"), F.col("id_b.i").alias("id_b"),
             F.col("id_a.s").alias("sa"), F.col("id_b.s").alias("sb"))
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# transitive resolution: near-dup pairs -> components -> keep set
# ---------------------------------------------------------------------------

def resolve_components(
    pairs: DataFrame, *, id_a: str = "id_a", id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pair edges -> (id, component)
    with component = min id reachable. Near-duplication is transitive in
    intent but LSH emits PAIRS (and may miss edges inside a clique), so
    corpus dedup keeps one doc per COMPONENT, not per pair — the standard
    final step of web-scale dedup pipelines.

    Distributed min-label propagation: every node starts labeled with
    itself; each round joins labels across edges both ways and keeps the
    elementwise min; stops when a round changes nothing. The round's
    frame carries ``changed = n_min < component`` and an ``Observation``
    of its OR rides the round's eager checkpoint, so detecting the fixed
    point costs no job of its own (an empty label frame observes NULL,
    which also stops). Rounds needed = component diameter (near-dup
    chains are short); ``max_iter`` bounds pathological chains. Each
    round is one broadcast-or-shuffle join + hash agg on narrow
    (id, label) rows.

    Each round's labels are ``localCheckpoint``-ed: iterative DataFrame
    algorithms must TRUNCATE LINEAGE, not just cache — a persisted frame
    still nests the previous round's logical plan, so by ~20 rounds the
    plan tree itself is exponential and the driver dies building it
    (observed: OOM in plan-string generation; PLANS.md round-2 lesson)."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"),
                            F.col(id_a).alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("n_min"))
        )
        changed = Observation()
        labels = (
            labels.join(neighbor_min, "id", "left")
            .select("id",
                    F.least("component", F.coalesce("n_min", "component"))
                    .alias("component"),
                    F.coalesce(F.col("n_min") < F.col("component"),
                               F.lit(False)).alias("changed"))
            .observe(changed, F.bool_or("changed").alias("c"))
            .localCheckpoint(eager=True)
        )
        if not changed.get["c"]:
            break
    edges.unpersist()
    return labels.select("id", "component")


def dedup_keep_set(
    df: DataFrame, pairs: DataFrame, id_col: str, *, max_iter: int = 20
) -> DataFrame:
    """Apply transitive resolution: keep min id per component, drop the
    rest. Non-paired docs never enter the label frame (anti-join keeps
    them untouched), so the propagation works on the tiny pair graph."""
    comp = resolve_components(pairs, max_iter=max_iter)
    losers = comp.filter(F.col("id") != F.col("component")) \
        .select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, *,
    cosine_threshold: float = 0.95, n_planes: int = 12, n_tables: int = 4,
    seed: int = 0, dim: int | None = None, max_bucket: int = 256,
    eager: bool = False, persist_registry: list | None = None,
) -> DataFrame:
    """Cosine-near-duplicate pairs (id_a < id_b, cosine >= threshold) with
    the same web-scale shape as :func:`minhash_lsh_pairs`:

    1. bucket stage — ``n_tables`` independent random-hyperplane sign
       buckets per vector, ALL computed in one numpy GEMM per Arrow batch
       (``sign(X @ P.T)`` for the stacked ``n_tables*n_planes`` plane
       matrix) inside ``mapInPandas``; output rows are NARROW
       (id, table, bucket) — the dense vectors never ride the shuffle.
    2. candidates — one shuffle groups ids per (table, bucket); pairs are
       generated in-bucket with array combinatorics (NO self-join — a
       self-join would recompute the scan+GEMM per side). Pathologically
       hot buckets are dropped by ``max_bucket``; multiple tables bound
       the false-negative rate (a near pair is missed only if it splits
       in EVERY table).
    3. verify — vectors are re-read only for docs appearing in a candidate
       pair (semi-join pushdown), exact cosine on the pair join.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables * n_planes, dim))
    shifts = np.arange(n_planes, dtype=np.int64)

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (X @ planes.T >= 0).astype(np.int64)        # (n, T*P)
            bits = bits.reshape(len(pdf), n_tables, n_planes)
            bkt = (bits << shifts).sum(axis=2)                 # (n, T)
            ids = np.repeat(pdf[id_col].to_numpy(), n_tables)
            yield pd.DataFrame({
                "_id": ids,
                "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                "bkt": bkt.reshape(-1),
            })

    # keep the caller's id dtype (string ids legal; ANSI cast would throw)
    _idt = df.select(id_col).schema[0].dataType.simpleString()
    banded = df.select(id_col, vec_col).mapInPandas(
        bucketize, schema=f"_id {_idt}, tbl int, bkt bigint")

    cand_ids, cand_docs = _candidates(
        banded, ["tbl", "bkt"], max_bucket=max_bucket,
        persist_registry=persist_registry)
    # no broadcast hint: the candidate-doc set grows with corpus size;
    # AQE broadcasts it only while it is actually small
    vecs = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .join(cand_docs, "_id", "left_semi")
    )
    pairs = (
        cand_ids
        .join(vecs.select(F.col("_id").alias("id_a"), F.col("_v").alias("va")),
              "id_a")
        .join(vecs.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb")),
              "id_b")
    )
    # vectorized verify: one numpy row-wise dot per Arrow batch instead
    # of an interpreted aggregate(zip_with) fold per pair (PLANS.md
    # lesson 1); float32 inputs widen to float64 BEFORE the multiply,
    # matching the SQL oracle's double math more closely than the old
    # float-precision element products
    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            num = np.einsum("ij,ij->i", A, B)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = num / den
            keep = cos >= cosine_threshold
            yield pd.DataFrame({
                "id_a": pdf["id_a"].to_numpy()[keep],
                "id_b": pdf["id_b"].to_numpy()[keep],
                "cosine": cos[keep],
            })

    out = pairs.select("id_a", "id_b", "va", "vb").mapInPandas(
        verify, schema=f"id_a {_idt}, id_b {_idt}, cosine double")
    return _scope_candidate_persist(out, cand_ids) if eager else out
