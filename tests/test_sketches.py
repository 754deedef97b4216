"""Sketch math: merge exactness/associativity vs numpy ground truth, and
the native HLL sketches hll_distinct returns."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.operators.stats import hll_distinct
from anomaly_detection_spark.sketches import BloomFilter, welford_merge
from tests.conftest import moments


def test_welford_matches_numpy_and_merge_is_associative():
    rng = np.random.default_rng(7)
    data = rng.normal(10.0, 3.0, size=10_001)
    # fold in uneven batches, one of them empty
    chunks = np.split(data, [17, 400, 400, 401, 5000, 9999])
    states = [moments(c) for c in chunks]
    left = states[0]
    for s in states[1:]:
        left = welford_merge(left, s)
    right = states[-1]
    for s in reversed(states[:-1]):
        right = welford_merge(s, right)
    for n, mean, m2 in (left, right):
        assert n == len(data)
        assert mean == pytest.approx(data.mean(), rel=1e-12)
        assert m2 / n == pytest.approx(data.var(), rel=1e-9)
        assert m2 / (n - 1) == pytest.approx(data.var(ddof=1), rel=1e-9)


def test_bloom_no_false_negatives_and_low_fp():
    keys = [f"key-{i}" for i in range(5_000)]
    bf = BloomFilter.sized_for(5_000, fpp=0.01)
    # distributed-style: two partial filters OR-merged
    a = BloomFilter(bf.m_bits, bf.k)
    b = BloomFilter(bf.m_bits, bf.k)
    a.add_batch(np.array(keys[:2500]))
    b.add_batch(np.array(keys[2500:]))
    merged = a.merge(b)
    assert merged.contains_batch(np.array(keys)).all()  # zero false negatives
    probe = np.array([f"absent-{i}" for i in range(10_000)])
    fp_rate = merged.contains_batch(probe).mean()
    assert fp_rate < 0.03
    # serialization roundtrip
    back = BloomFilter.from_bytes(merged.m_bits, merged.k, merged.to_bytes())
    assert back.contains_batch(np.array(keys[:100])).all()


def test_hll_accuracy_and_merge(spark):
    def sketch(lo, hi):
        df = spark.range(lo, hi).select(F.format_string("x%d", "id").alias("k"))
        return hll_distinct(df, "k").first()

    a, b = sketch(0, 60_000), sketch(30_000, 90_000)  # overlap
    # the returned sketches merge: union == single-pass build
    both = spark.createDataFrame([(a["sketch"],), (b["sketch"],)], "s binary")
    merged = both.agg(F.hll_sketch_estimate(F.hll_union_agg("s"))).first()[0]
    assert abs(merged - 90_000) / 90_000 < 0.05
    single = sketch(0, 90_000)["n_distinct_approx"]
    assert abs(merged - single) / single < 0.03


def test_hll_small_range(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",), ("a",), (None,)], "k string")
    assert abs(hll_distinct(df, "k").first()["n_distinct_approx"] - 3) < 0.5
