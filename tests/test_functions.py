"""Training-data pipeline functions: text analysis, dedup (exact /
MinHash-LSH / SimHash / n-gram Jaccard / embedding), similarity search,
multimodal plumbing — against exact ground truth on the driver testdata."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.functions.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    simhash_signatures,
)
from anomaly_detection_spark.functions.multimodal import (
    audio_window_plan,
    frame_sample_plan,
    image_features,
    media_repartition,
    synth_media,
)
from anomaly_detection_spark.functions.similarity import (
    cosine_topk,
    cosine_topk_pandas,
    lsh_topk,
)
from anomaly_detection_spark.functions.text import (
    char_shingles,
    fingerprint,
    lang_id,
    quality_score,
    ws_token_count,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


# --- text ------------------------------------------------------------------

def test_ws_token_count(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("  ",), ("one",)], "t string"
    ).select(ws_token_count(F.col("t")).alias("n"))
    assert [r["n"] for r in df.collect()] == [3, 0, 0, 1]


def test_lang_id_obvious_cases(spark):
    df = spark.createDataFrame([
        ("the cat and the dog is of note to all",),
        ("der hund und die katze ist nicht da und der mann",),
        ("le chat et la maison est dans les bois et le jardin",),
        ("xyzzy 12345",),
    ], "t string").select(lang_id(F.col("t")).alias("lang"))
    assert [r["lang"] for r in df.collect()] == ["en", "de", "fr", "und"]


def test_quality_score_ordering(spark):
    good = "the quick brown fox jumps over the lazy dog and runs to the hills"
    bad = "@#$%^&*@#$%^&*()!!!"
    df = spark.createDataFrame([(good,), (bad,)], "t string").select(
        quality_score(F.col("t")).alias("q")
    )
    q = [r["q"] for r in df.collect()]
    assert q[0] > 0.7 and q[1] < 0.5 and q[0] > q[1]


def test_fingerprint_detects_identical_prefix_shift(spark):
    base = "abcdefghijklmnopqrstuvwxyz" * 4
    df = spark.createDataFrame(
        [(base,), ("PRE" + base,), ("completely different content here",)],
        "t string",
    ).select(fingerprint(F.col("t")).alias("fp"))
    fps = [r["fp"] for r in df.collect()]
    assert fps[0] == fps[1]  # shared k-grams dominate the min
    assert fps[0] != fps[2]


def test_char_shingles_count(spark):
    df = spark.createDataFrame([("abcdefgh",), ("ab",)], "t string").select(
        F.size(char_shingles(F.col("t"), k=4)).alias("n")
    )
    assert [r["n"] for r in df.collect()] == [5, 1]


# --- dedup -----------------------------------------------------------------

@pytest.fixture(scope="module")
def dup_docs(spark, docs):
    """documents plus exact copies of 3 docs and near-copies of 3 others."""
    src = docs.limit(200)
    exact_copy = src.filter(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    near_copy = src.filter((F.col("doc_id") >= 3) & (F.col("doc_id") < 6)).select(
        (F.col("doc_id") + 200_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing edit")).alias("text"),
        "lang", "source", "n_chars",
    )
    return src.unionByName(exact_copy).unionByName(near_copy).cache()


def test_exact_duplicates_and_dedup(spark, dup_docs):
    dups = exact_duplicates(dup_docs, "doc_id", "text").collect()
    assert len(dups) == 3
    assert all(r["n_copies"] == 2 and r["keep_id"] < 100_000 for r in dups)
    total = dup_docs.count()
    assert exact_dedup(dup_docs, "doc_id", "text").count() == total - 3


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    pairs = minhash_lsh_pairs(
        dup_docs, "doc_id", "text", shingle_k=8, n_hashes=16, bands=4,
        jaccard_threshold=0.6,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # the 3 exact copies must be found (jaccard 1.0); near-copies very likely
    for d in range(3):
        assert (d, d + 100_000) in found
    near_hits = sum((d, d + 200_000) in found for d in range(3, 6))
    assert near_hits >= 2
    assert all(r["jaccard"] >= 0.6 for r in pairs)


def test_minhash_lsh_max_bucket_bound(spark):
    """Identical docs share every band bucket: a bucket of max_bucket
    members still yields all its pairs, one more member drops it."""
    text = "the quick brown fox jumps over the lazy dog " * 4

    def pairs(n):
        docs = spark.createDataFrame([(i, text) for i in range(n)],
                                     "doc_id long, text string")
        return {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(
            docs, "doc_id", "text", max_bucket=4).collect()}

    assert pairs(4) == {(i, j) for i in range(4) for j in range(i + 1, 4)}
    assert pairs(5) == set()


def test_ngram_jaccard_matches_python_oracle(spark, dup_docs):
    sample = dup_docs.filter(
        (F.col("doc_id") < 20) | (F.col("doc_id") >= 100_000)
    )
    pairs = ngram_jaccard_pairs(
        sample, "doc_id", "text", shingle_k=8, jaccard_threshold=0.6
    ).collect()
    rows = {r["doc_id"]: r["text"] for r in sample.collect()}

    def jac(a, b):
        sa = {a[i:i + 8] for i in range(max(len(a) - 7, 1))}
        sb = {b[i:i + 8] for i in range(max(len(b) - 7, 1))}
        return len(sa & sb) / len(sa | sb)

    expected = {
        (i, j)
        for i in rows for j in rows if i < j
        and min(len(rows[i]), len(rows[j])) >= 0.8 * max(len(rows[i]), len(rows[j]))
        and jac(rows[i], rows[j]) >= 0.6
    }
    assert {(r["id_a"], r["id_b"]) for r in pairs} == expected
    for r in pairs:
        assert r["jaccard"] == pytest.approx(jac(rows[r["id_a"]], rows[r["id_b"]]))


def test_simhash_near_dups(spark, dup_docs):
    sigs = {r["doc_id"]: r["simhash"]
            for r in simhash_signatures(dup_docs, "doc_id", "text").collect()}
    # identical text -> identical signature
    for d in range(3):
        assert sigs[d] == sigs[d + 100_000]
    pairs = simhash_near_dup_pairs(dup_docs, "doc_id", "text", max_hamming=3)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    for d in range(3):
        assert found[(d, d + 100_000)] == 0


def test_embedding_near_dup(spark, emb):
    # plant two exact-duplicate vectors and one near-duplicate
    base = emb.limit(100)
    clones = base.filter(F.col("vec_id") < 2).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    df = base.unionByName(clones)
    pairs = embedding_near_dup_pairs(
        df, "vec_id", "embedding", cosine_threshold=0.999, n_planes=10
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1000) in found and (1, 1001) in found


# --- similarity ------------------------------------------------------------

def test_cosine_topk_exact_vs_numpy(spark, emb):
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    qids = [0, 7]
    queries = spark.createDataFrame(
        [(int(q), [float(x) for x in vecs[q]]) for q in qids],
        "query_id long, embedding array<float>",
    )
    got = cosine_topk(emb, queries, k=5).collect()
    M = np.stack([vecs[i] for i in sorted(vecs)])
    ids = np.array(sorted(vecs))
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    for q in qids:
        qv = vecs[q] / np.linalg.norm(vecs[q])
        sims = Mn @ qv
        order = np.lexsort((ids, -sims))[:5]
        expect = list(ids[order])
        mine = [r["vec_id"] for r in sorted(
            (r for r in got if r["query_id"] == q), key=lambda r: r["rank"]
        )]
        assert mine == expect
        assert mine[0] == q  # self is most similar


def test_cosine_topk_pandas_agrees(spark, emb):
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in emb.limit(10).collect()}
    queries = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in vecs.items()][:2],
        "query_id long, embedding array<float>",
    )
    exact = cosine_topk(emb, queries, k=5).collect()
    fast = cosine_topk_pandas(
        emb, {q: np.array(v) for q, v in list(vecs.items())[:2]}, k=5
    ).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["vec_id"]) for r in rows)  # noqa: E731
    assert key(exact) == key(fast)


def test_lsh_topk_recall(spark, emb):
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in emb.limit(5).collect()}
    queries = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in vecs.items()],
        "query_id long, embedding array<float>",
    )
    exact = cosine_topk(emb, queries, k=5).collect()
    approx = lsh_topk(emb, queries, k=5, n_planes=6, n_tables=6).collect()
    # self-match always lands in the same bucket as itself
    approx_top1 = {r["query_id"]: r["vec_id"] for r in approx if r["rank"] == 1}
    for q in vecs:
        assert approx_top1[q] == q
    # recall@5 of the approximate result vs exact
    ex = {(r["query_id"], r["vec_id"]) for r in exact}
    ap = {(r["query_id"], r["vec_id"]) for r in approx}
    assert len(ex & ap) / len(ex) >= 0.5


# --- multimodal ------------------------------------------------------------

def test_multimodal_plumbing(spark):
    media = synth_media(spark, 64, kind="image", blob_bytes=2048)
    feats = image_features(media, resize_to=16).collect()
    assert len(feats) == 64
    assert all(r["decode_ok"] for r in feats)
    assert all(len(r["features"]) == 12 for r in feats)
    # determinism
    again = image_features(media, resize_to=16).collect()
    a = {r["media_id"]: r["features"] for r in feats}
    b = {r["media_id"]: r["features"] for r in again}
    assert a == b

    reparted = media_repartition(media, target_bytes=16 * 2048)
    assert reparted.rdd.getNumPartitions() >= 4

    vids = synth_media(spark, 8, kind="video").withColumn(
        "duration_ms", F.lit(3000)
    )
    plan = frame_sample_plan(vids, every_ms=1000)
    assert plan.count() == 8 * 3
    auds = synth_media(spark, 4, kind="audio").withColumn(
        "duration_ms", F.lit(1000)
    )
    assert audio_window_plan(auds, window_ms=500).count() == 4 * 2


def test_curation_pipeline_end_to_end(spark, docs):
    from anomaly_detection_spark.functions.curation import (
        CurationConfig,
        curate,
    )
    from pyspark.sql import functions as F

    # corpus with planted exact copies and near-copies
    base = docs.limit(300)
    copies = base.filter(F.col("doc_id") < 4).withColumn(
        "doc_id", F.col("doc_id") + 500_000
    )
    near = base.filter((F.col("doc_id") >= 4) & (F.col("doc_id") < 7)).select(
        (F.col("doc_id") + 600_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = base.unionByName(copies).unionByName(near)

    cfg = CurationConfig(min_quality=0.3, allowed_langs=("en", "de", "fr",
                                                         "es", "zh"),
                         jaccard_threshold=0.6)
    curated, report = curate(corpus, config=cfg)
    rep = {r["stage"]: (r["rows_in"], r["rows_out"]) for r in report.collect()}
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}

    # exact copies dropped (min id wins -> originals survive)
    assert rep["exact_dedup"][0] - rep["exact_dedup"][1] == 4
    assert all(d + 500_000 not in ids for d in range(4))
    assert {0, 1, 2, 3} <= ids
    # near copies dropped by LSH stage (higher id loses)
    dropped_near = rep["near_dedup"][0] - rep["near_dedup"][1]
    assert dropped_near >= 2
    assert 4 in ids and 5 in ids
    # curated carries the accounting columns
    assert {"quality", "n_tokens", "bpe_tokens"} <= set(curated.columns)
    assert curated.filter("quality < 0.3").count() == 0
