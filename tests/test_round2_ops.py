"""Round-2 operator coverage: rolling-retrain iForest (the reference's
retrain_interval/samples_for_retrain semantics), time-of-day filter,
send_ok sink gate + Kafka wire frame, ConsumerFileKafka warm start, the
vectorized iForest normalizer, and the single-pass curation report."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.operators.constraints import (
    time_of_day_filter,
    time_of_day_predicate,
)
from anomaly_detection_spark.operators.mvoutlier import (
    _c,
    _c_vec,
    iforest_retrain_check,
)
from anomaly_detection_spark.streaming.stream import (
    kafka_sink_frame,
    run_to_memory,
    sink_filter,
    warm_start_source,
)


# ---------------------------------------------------------------------------
# rolling retrain (ref isolation_forest.py:158-177; unit_tests.py:472-548)
# ---------------------------------------------------------------------------

def _shifting_series(spark, n=450, shift_at=250):
    """Two-feature series whose regime jumps from ~(0,0) to ~(10,10) at
    ``shift_at`` — deterministic jitter so verdicts are reproducible."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(n):
        base = 0.0 if i < shift_at else 10.0
        rows.append(("k", float(1_700_000_000 + i),
                     base + float(rng.normal(0, 0.5)),
                     base + float(rng.normal(0, 0.5))))
    return spark.createDataFrame(
        rows, "series string, ts double, f1 double, f2 double")


def test_iforest_retrain_epoch_schedule(spark):
    """epoch == the reference's retrain_counter: first fire at
    max(R, S), then every R rows; warm-up rows Undefined."""
    df = _shifting_series(spark, n=450)
    out = iforest_retrain_check(
        df, "series", "ts", ["f1", "f2"],
        retrain_interval=50, samples_for_retrain=100,
        n_trees=30, subsample=64,
    ).orderBy("ts").collect()
    epochs = [r["epoch"] for r in out]
    codes = [r["code"] for r in out]
    # rows 0-99 (before the first fire at 100): Undefined, epoch 0
    assert all(c == 2 for c in codes[:100])
    assert all(e == 0 for e in epochs[:100])
    # fires at 100, 150, 200, ...: epoch k covers rows [fire_k, fire_k+R)
    assert epochs[100] == 1 and epochs[149] == 1
    assert epochs[150] == 2 and epochs[199] == 2
    assert epochs[449] == (450 - 100) // 50  # last epoch
    # every scored row got a definite verdict
    assert all(c in (-1, 1) for c in codes[100:])


def test_iforest_retrain_flip_after_regime_shift(spark):
    """The retrain-flip the reference's tests assert: right after the
    regime shift the (stale) model flags the new regime as anomalous;
    once the trailing buffer refills with new-regime rows, the refit
    model stops flagging them."""
    df = _shifting_series(spark, n=450, shift_at=250)
    out = iforest_retrain_check(
        df, "series", "ts", ["f1", "f2"],
        retrain_interval=50, samples_for_retrain=100,
        n_trees=50, subsample=100,
    ).orderBy("ts").collect()
    codes = [r["code"] for r in out]
    # rows 250-299 scored by the model fit on rows 150-250 (old regime)
    stale = codes[250:300]
    stale_rate = sum(c == -1 for c in stale) / len(stale)
    assert stale_rate >= 0.6
    # rows 350-399 scored by the model fit on rows 250-350 (new regime)
    fresh = codes[350:400]
    fresh_rate = sum(c == -1 for c in fresh) / len(fresh)
    assert fresh_rate <= 0.3
    assert fresh_rate < stale_rate / 2  # the flip itself


def test_c_vec_matches_scalar():
    ns = np.array([1.0, 2.0, 3.0, 10.0, 256.0, 1e6])
    np.testing.assert_allclose(_c_vec(ns), [_c(n) for n in ns], rtol=1e-12)


def test_vectorized_forest_invariants():
    """The level-synchronous builder must produce structurally valid
    trees: every internal node's children partition its sample (sizes
    sum), all node sizes positive, deterministic under the seed, and a
    planted far-point outscores the bulk."""
    from anomaly_detection_spark.operators.mvoutlier import IsolationForest

    rng = np.random.default_rng(0)
    X = rng.normal(size=(1000, 3))
    X[0] = [12.0, -14.0, 9.0]
    f = IsolationForest(50, 128, 0).fit(X)
    for tree in f.trees:
        internal = tree["feature"] >= 0
        l, r = tree["left"][internal], tree["right"][internal]
        assert (tree["size"][internal]
                == tree["size"][l] + tree["size"][r]).all()
        assert (tree["size"] > 0).all()
        assert (tree["left"][~internal] == -1).all()
    s = f.score(X)
    assert s[0] > 0.65 and s[0] > s[1:].max()
    s2 = IsolationForest(50, 128, 0).fit(X).score(X)
    assert np.array_equal(s, s2)


def test_clustering_retrain_reproduces_reference_sequence(spark):
    """Element-exact golden of the reference's clustering retrain test
    (/root/reference/src/unit_tests.py:843-864): DBSCAN is deterministic,
    so with the same train file, eps/min_samples/treshold and R=S=10 the
    verdict sequence — including the post-retrain flip where the (10,20)
    regime becomes normal and (1.0,0.9) becomes anomalous — must match
    the reference's expected_status list, and the final epoch must equal
    its retrain_counter == 1."""
    from anomaly_detection_spark.operators.clustering import (
        clustering_retrain_check,
    )

    train = np.array([  # unit_tests.py create_clustering_testing_file
        [10.3, 10.44], [9.8, 11.3], [15.433, 16.4], [0, 0.2],
        [0.2, 0.234], [0.3, 0.12], [0.11, 0.0456], [0.01, 0.07996],
        [1.3, 0.211], [1, 1.65], [1.2, 1.22], [1.332, 1.03],
        [1.222, 1.01], [1.554, 1.44],
    ])
    test_array = [
        [10, 20.96], [10.0, 1.0], [10.4, 21.1], [0.2, 0.9],
        [10.4, 20.098], [9.99, 20.44], [9.988, 20.656], [10.443, 21],
        [10.454, 20.546], [9.995, 20.99], [10.005, 20.3425],
        [10.1295, 20.456], [1.0, 0.9],
    ]
    expected_status = [-1, -1, -1, 1, -1, -1, -1, -1, -1, -1, 1, 1, -1]

    rows = [("k", float(1459926000 + 3600 * i), float(v[0]), float(v[1]))
            for i, v in enumerate(test_array)]
    df = spark.createDataFrame(
        rows, "series string, ts double, f1 double, f2 double")
    out = clustering_retrain_check(
        df, "series", "ts", ["f1", "f2"],
        eps=0.98, min_samples=3, treshold=1.5,
        retrain_interval=10, samples_for_retrain=10,
        initial_train=train,
    ).orderBy("ts").collect()
    assert [r["code"] for r in out] == expected_status
    assert out[-1]["epoch"] == 1  # retrain_counter


# ---------------------------------------------------------------------------
# time-of-day filter (ref consumer.py:195-221)
# ---------------------------------------------------------------------------

def _tod_df(spark, times):
    rows = [(i, dt.datetime(2024, 5, 1, h, m, s))
            for i, (h, m, s) in enumerate(times)]
    return spark.createDataFrame(rows, "id long, ts timestamp")


def test_time_of_day_filter_basic(spark):
    df = _tod_df(spark, [(11, 0, 0), (12, 29, 59), (14, 0, 0), (9, 29, 0),
                         (14, 30, 0)])
    got = {r["id"] for r in
           time_of_day_filter(df, "ts", (12, 0, 0), (2, 30, 0)).collect()}
    # strict <: 14:30:00 is exactly at tolerance -> excluded; 9:29 outside
    assert got == {0, 1, 2}


def test_time_of_day_no_midnight_wraparound(spark):
    """Bug-for-bug with the reference: 23:59 vs a 00:01 target differs by
    23h58m (datetime.combine on one fixed date), so it is NOT kept."""
    df = _tod_df(spark, [(23, 59, 0), (0, 3, 0), (0, 1, 30)])
    got = {r["id"] for r in
           time_of_day_filter(df, "ts", (0, 1, 0), (0, 5, 0)).collect()}
    assert got == {1, 2}


def test_time_of_day_subsecond_boundary(spark):
    """The reference compares full datetime.time values, so fractional
    seconds count: 09:30:00.5 vs target noon / tol 2h30m differs by
    2:29:59.5 < 2:30:00 -> KEPT; 09:29:59.5 differs by 2:30:00.5 ->
    dropped."""
    rows = [(0, dt.datetime(2024, 5, 1, 9, 30, 0, 500000)),
            (1, dt.datetime(2024, 5, 1, 9, 29, 59, 500000)),
            (2, dt.datetime(2024, 5, 1, 14, 29, 59, 999999)),
            (3, dt.datetime(2024, 5, 1, 14, 30, 0, 1))]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    got = {r["id"] for r in
           time_of_day_filter(df, "ts", (12, 0, 0), (2, 30, 0)).collect()}
    assert got == {0, 2}


def test_streaming_retrain_empty_core_model_survives_state(spark, tmp_path):
    """A retrain whose buffer yields NO core samples is still a model
    (everything scores -1), and must survive the state round-trip — a
    naive falsy check on the serialized core list would restore it as
    'no model yet' and flip verdicts to Undefined across the batch
    boundary."""
    from anomaly_detection_spark.streaming.stateful import (
        streaming_clustering_retrain,
    )

    # scattered points: buffer of 2 can never reach min_samples=3
    rows = [("k", float(i), float(i * 100), float(-i * 50))
            for i in range(6)]
    schema = "key string, order double, f1 double, f2 double"
    kw = dict(eps=0.5, min_samples=3, treshold=1.0,
              retrain_interval=2, samples_for_retrain=2)
    src = str(tmp_path / "ec_in")
    spark.createDataFrame(rows[:4], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = run_to_memory(streaming_clustering_retrain(stream, ["f1", "f2"], **kw),
                      "empty_core_stream")
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows[4:], schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {r["order"]: r["code"] for r in
               spark.sql("SELECT * FROM empty_core_stream").collect()}
    finally:
        q.stop()
    # warm-up rows Undefined; every row after the first (empty-core)
    # retrain is -1, INCLUDING rows 4,5 that arrive in the second batch
    assert got == {0.0: 2, 1.0: 2, 2.0: -1, 3.0: -1, 4.0: -1, 5.0: -1}


def test_time_of_day_predicate_is_pushdown_friendly(spark):
    """The predicate must reach the scan as a plain filter (no UDF barrier)."""
    df = _tod_df(spark, [(12, 0, 0)])
    plan = df.filter(
        time_of_day_predicate(F.col("ts"), (12, 0, 0), (1, 0, 0))
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# send_ok sink gate + Kafka wire frame (ref output.py:22-26, 175-215)
# ---------------------------------------------------------------------------

def _verdicts(spark):
    return spark.createDataFrame(
        [(1, 10.0, -1, 9.5), (2, 11.0, 1, None), (3, 12.0, 0, None)],
        "event_id long, value double, status_code int, suggested_value double",
    )


def test_sink_filter_send_ok(spark):
    v = _verdicts(spark)
    assert sink_filter(v, send_ok=True).count() == 3
    got = {r["event_id"] for r in
           sink_filter(v, send_ok=False).collect()}
    assert got == {1, 3}  # OK rows dropped, warnings/errors kept


def test_kafka_sink_frame_wire_shape(spark):
    import json

    frame = kafka_sink_frame(
        _verdicts(spark), node_id=7, algorithm="BorderCheck",
        suggested="suggested_value", send_ok=False,
    )
    rows = frame.collect()
    assert all(r["topic"] == "anomalies_7" for r in rows)
    payloads = {json.loads(r["value"])["status_code"]: json.loads(r["value"])
                for r in rows}
    assert set(payloads) == {-1, 0}
    assert payloads[-1]["algorithm"] == "BorderCheck"
    assert payloads[-1]["suggested_value"] == 9.5
    assert "suggested_value" not in payloads[0]  # null field omitted


# ---------------------------------------------------------------------------
# ConsumerFileKafka warm start (ref consumer.py:366-413)
# ---------------------------------------------------------------------------

def test_warm_start_source_bootstrap_then_stream(spark, tmp_path):
    schema = "event_id long, value double"
    hist = str(tmp_path / "history")
    src = str(tmp_path / "stream_in")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], schema) \
        .coalesce(1).write.parquet(hist)

    stream = warm_start_source(spark, history_path=hist, stream_dir=src,
                               schema=schema)
    assert stream.isStreaming
    q = run_to_memory(stream, "warmstart", mode="append")
    try:
        q.processAllAvailable()
        first = {r["event_id"]
                 for r in spark.sql("SELECT * FROM warmstart").collect()}
        assert first == {1, 2}  # history replayed in the first micro-batch
        spark.createDataFrame([(3, 3.0)], schema) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        both = {r["event_id"]
                for r in spark.sql("SELECT * FROM warmstart").collect()}
        assert both == {1, 2, 3}  # live rows continue the same stream
    finally:
        q.stop()


def test_streaming_clustering_retrain_equals_batch(spark, tmp_path):
    """The stateful streaming retrain must produce exactly the batch
    operator's verdicts when the same series arrives split across
    micro-batches — state (buffer, counter, epoch, cores) carries the
    recurrence across the batch boundary."""
    from anomaly_detection_spark.operators.clustering import (
        clustering_retrain_check,
    )
    from anomaly_detection_spark.streaming.stateful import (
        streaming_clustering_retrain,
    )

    rng = np.random.default_rng(11)
    rows = []
    for i in range(120):
        base = 0.0 if i < 60 else 8.0
        rows.append(("k", float(i),
                     base + float(rng.normal(0, 0.3)),
                     base + float(rng.normal(0, 0.3))))
    schema = "key string, order double, f1 double, f2 double"
    kw = dict(eps=1.0, min_samples=3, treshold=2.5,
              retrain_interval=20, samples_for_retrain=30)

    batch = clustering_retrain_check(
        spark.createDataFrame(rows, schema), "key", "order", ["f1", "f2"],
        **kw,
    ).orderBy("order").collect()

    src = str(tmp_path / "retrain_in")
    spark.createDataFrame(rows[:70], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = run_to_memory(
        streaming_clustering_retrain(stream, ["f1", "f2"], **kw),
        "retrain_stream",
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows[70:], schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {r["order"]: r for r in
               spark.sql("SELECT * FROM retrain_stream").collect()}
    finally:
        q.stop()

    assert len(got) == len(batch)
    for b in batch:
        s = got[b["order"]]
        assert (s["code"], s["epoch"]) == (b["code"], b["epoch"]), b["order"]
        if np.isfinite(b["min_core_dist"]):
            assert abs(s["min_core_dist"] - b["min_core_dist"]) < 1e-9


# ---------------------------------------------------------------------------
# single-pass curation report
# ---------------------------------------------------------------------------

def test_embedding_near_dup_multi_table_recall(spark):
    """Near-but-not-identical pairs (cosine ~0.98 from small noise) can
    split across a single LSH table's buckets; the multi-table rewrite
    must still find them. Plants 20 noisy copies and requires >=90%
    recall at n_tables=6 (a single 12-plane table would miss ~half)."""
    from pyspark.sql import functions as F

    from anomaly_detection_spark.functions.dedup import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(5)
    dim = 16
    base = rng.normal(size=(200, dim))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    planted = []
    for i in range(20):
        v = base[i]
        noisy = v + rng.normal(0, 0.05 * np.linalg.norm(v) / np.sqrt(dim),
                               size=dim)
        cos = float(v @ noisy / (np.linalg.norm(v) * np.linalg.norm(noisy)))
        assert cos > 0.95
        planted.append((i, i + 1000))
        rows.append((i + 1000, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = embedding_near_dup_pairs(
        df, "vec_id", "embedding", cosine_threshold=0.95,
        n_planes=12, n_tables=6,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    hits = sum(1 for p in planted if p in found)
    assert hits / len(planted) >= 0.9


def test_ivf_topk_recall_and_exactness_at_full_probe(spark):
    """IVF ANN: probing ALL cells is exhaustive (must equal the exact
    top-k), and the default partial probe keeps high recall."""
    from pyspark.sql import functions as F

    from anomaly_detection_spark.functions.similarity import (
        cosine_topk, ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id",
                F.col("embedding").cast("array<double>").alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["vec_id"])
             for r in cosine_topk(emb, queries, k=5).collect()}

    full = {(r["query_id"], r["vec_id"]) for r in ivf_topk(
        emb, queries, k=5, n_cells=16, n_probe=16).collect()}
    assert full == exact  # probe everything == brute force

    # the fixture embeddings are near-uniform (no planted cluster
    # structure), the hardest case for IVF: half-probe must still keep
    # high recall, quarter-probe degrades gracefully
    half = {(r["query_id"], r["vec_id"]) for r in ivf_topk(
        emb, queries, k=5, n_cells=16, n_probe=8).collect()}
    assert len(half & exact) / len(exact) >= 0.8
    quarter = {(r["query_id"], r["vec_id"]) for r in ivf_topk(
        emb, queries, k=5, n_cells=16, n_probe=4).collect()}
    assert len(quarter & exact) / len(exact) >= 0.5


def test_ks_exact_matches_digest_within_resolution(spark):
    """The exact distributed KS (range-partitioned prefix sums) agrees
    with numpy on planted shifted samples, and the KLL KS approximation
    lands within the sketch's resolution of it."""
    from anomaly_detection_spark.operators.drift import ks_check, ks_exact

    rng = np.random.default_rng(3)
    a = rng.normal(0.0, 1.0, 4000)
    b = rng.normal(0.6, 1.0, 4000)  # shifted: KS ~ 0.23
    dfa = spark.createDataFrame([(float(x),) for x in a], "value double")
    dfb = spark.createDataFrame([(float(x),) for x in b], "value double")

    got = ks_exact(dfa, dfb, "value", n_range_partitions=5).first()["ks"]
    # numpy ground truth: eval ECDF difference at all sample points
    xs = np.sort(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), xs, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), xs, side="right") / len(b)
    want = np.abs(fa - fb).max()
    assert abs(got - want) < 1e-12

    approx, _ = ks_check(dfa, dfb, "value")
    assert abs(approx - want) < 0.02  # within sketch resolution


def test_resolve_components_transitive(spark):
    """Chain, triangle, isolated pair: labels converge to the component
    min; dedup_keep_set keeps exactly one doc per component."""
    from anomaly_detection_spark.functions.dedup import (
        dedup_keep_set, resolve_components,
    )

    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"]
            for r in resolve_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1,
                    10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in
            dedup_keep_set(docs, pairs, "doc_id").collect()}
    assert kept == {1, 10, 20, 99}  # min per component + untouched doc


def test_resolve_components_random_graphs_match_union_find(spark):
    """Seeded random graphs: the distributed min-label propagation must
    equal a plain union-find ground truth on every node."""
    from anomaly_detection_spark.functions.dedup import resolve_components

    for seed in range(4):
        rng = np.random.default_rng(seed)
        raw = rng.integers(0, 40, size=(30, 2))
        edges = [(int(a), int(b)) for a, b in raw if a != b]
        if not edges:
            continue
        parent = list(range(40))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {v for e in edges for v in e}
        expected = {v: find(v) for v in nodes}

        got = {r["id"]: r["component"] for r in resolve_components(
            spark.createDataFrame(edges, "id_a long, id_b long")
        ).collect()}
        assert got == expected, f"seed {seed}"


def test_resolve_components_runs_no_extra_action_per_round(spark):
    """A round's change flag rides its eager checkpoint as an
    Observation: while resolve_components runs on a chain (one round per
    hop), no count() or collect() may fire, and the labels still equal
    union-find."""
    from anomaly_detection_spark.functions.dedup import resolve_components

    edges = [(i, i + 1) for i in range(6)] + [(20, 21), (21, 22)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    parent = {v: v for e in edges for v in e}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}

    def refuse(self, *a, **kw):
        raise AssertionError("resolve_components ran an extra action")

    cls = type(pairs)
    saved = cls.count, cls.collect
    cls.count = cls.collect = refuse
    try:
        comp = resolve_components(pairs)
    finally:
        cls.count, cls.collect = saved
    assert {r["id"]: r["component"] for r in comp.collect()} == expected


def test_resolve_components_empty_pairs_returns(spark):
    """No edges: the first round's Observation is NULL and must end the
    loop — a missing metric would block forever, so run it on a daemon
    thread under a timeout."""
    import threading

    from anomaly_detection_spark.functions.dedup import resolve_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = []

    def run():
        try:
            out.append(resolve_components(empty))
        except Exception as e:  # re-raised on the test thread
            out.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "resolve_components hung on an empty pair frame"
    if isinstance(out[0], Exception):
        raise out[0]
    assert out[0].columns == ["id", "component"]
    assert out[0].count() == 0


def test_registry_references_consistent():
    """Every name referenced by bench.py's HEADLINE and the registry's
    ordering lists must exist in REGISTRY (typo guard), and the driver's
    50-entry window must be fully oracle-backed."""
    import bench
    from anomaly_detection_spark.queries import (
        _ROWS_ONLY_PRIORITY, REGISTRY,
    )

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"bench names not in REGISTRY: {missing}"
    missing = [n for n in _ROWS_ONLY_PRIORITY if n not in REGISTRY]
    assert not missing, f"ordering names not in REGISTRY: {missing}"
    window = list(REGISTRY)[:50]
    assert all(REGISTRY[n][1] is not None for n in window), \
        "driver window contains rows-only entries"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_curate_transitive_dedup_collapses_chains(spark, docs):
    """With transitive_dedup=True a two-step edit chain collapses to the
    original even when LSH emits only the adjacent pairs."""
    from pyspark.sql import functions as F

    from anomaly_detection_spark.functions.curation import (
        CurationConfig, curate,
    )

    base = docs.limit(100)
    chain = F.array(
        F.struct(F.col("doc_id"), F.col("text")),
        F.struct((F.col("doc_id") + 500_000).alias("doc_id"),
                 F.concat(F.col("text"), F.lit(" tail")).alias("text")),
        F.struct((F.col("doc_id") + 600_000).alias("doc_id"),
                 F.concat(F.col("text"), F.lit(" tail tail")).alias("text")),
    )
    one = F.array(F.struct(F.col("doc_id"), F.col("text")))
    corpus = base.select(
        F.explode(F.when(F.col("doc_id") < 3, chain).otherwise(one)).alias("r"),
        "lang", "source", "n_chars",
    ).select("r.doc_id", "r.text", "lang", "source", "n_chars")

    cfg = CurationConfig(min_quality=0.3,
                         allowed_langs=("en", "de", "fr", "es", "zh"),
                         jaccard_threshold=0.6, transitive_dedup=True)
    curated, _ = curate(corpus, config=cfg, with_report=False)
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    for d in range(3):
        if d in ids:  # original survived its quality gate
            assert d + 500_000 not in ids and d + 600_000 not in ids


def test_curate_with_report_false_runs_no_jobs(spark, docs):
    from anomaly_detection_spark.functions.curation import (
        CurationConfig, curate,
    )

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    curated, report = curate(
        docs.limit(200),
        config=CurationConfig(min_quality=0.3,
                              allowed_langs=("en", "de", "fr", "es", "zh"),
                              near_dedup=False),
        with_report=False,
    )
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before  # fully lazy: no counting jobs ran
    assert report.count() == 0
    assert curated.count() > 0
