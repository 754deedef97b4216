"""Property-based tests (hypothesis) for the merge kernels — merge
associativity/commutativity, estimator bounds, ladder semantics. The
reference has no property tests at all (SURVEY.md §5.1); these pin the
algebraic laws the distributed execution RELIES on: any partitioning of
the data must produce the same merged sketch."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from anomaly_detection_spark.operators.stats import hll_distinct
from anomaly_detection_spark.sketches import BloomFilter, welford_merge
from tests.conftest import moments

finite = st.floats(min_value=-1e9, max_value=1e9,
                   allow_nan=False, allow_infinity=False)
batches = st.lists(st.lists(finite, min_size=0, max_size=40),
                   min_size=1, max_size=6)


@settings(max_examples=60, deadline=None)
@given(batches)
def test_welford_any_partitioning_same_result(parts):
    """Merging per-batch moments in ANY grouping equals the single pass."""
    flat = [v for p in parts for v in p]
    single = moments(flat)
    # left fold
    left = (0.0, 0.0, 0.0)
    for p in parts:
        left = welford_merge(left, moments(p))
    # pairwise tree fold
    states = [moments(p) for p in parts]
    while len(states) > 1:
        states = [welford_merge(states[i], states[i + 1])
                  if i + 1 < len(states) else states[i]
                  for i in range(0, len(states), 2)]
    n1, m1, q1 = single
    for n2, m2, q2 in (left, states[0]):
        assert n1 == n2
        if n1 > 0:
            assert math.isclose(m1, m2, rel_tol=1e-9, abs_tol=1e-6)
            assert math.isclose(q1 / n1, q2 / n2, rel_tol=1e-6, abs_tol=1e-4)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=200))
def test_bloom_never_false_negative(keys):
    bf = BloomFilter.sized_for(len(keys), 0.01)
    bf.add_batch(np.array(keys, dtype=object))
    assert bf.contains_batch(np.array(keys, dtype=object)).all()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=300),
       st.integers(min_value=1, max_value=4))
def test_hll_split_merge_equals_single_pass(spark, keys, n_parts):
    """The per-part sketches hll_distinct returns union to the estimate of
    one sketch over all keys."""
    df = spark.createDataFrame([(i % n_parts, k) for i, k in enumerate(keys)],
                               "part int, k string")
    whole = hll_distinct(df, "k").first()["n_distinct_approx"]
    merged = (hll_distinct(df, "k", "part")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch"))).first()[0])
    assert merged == whole


@settings(max_examples=60, deadline=None)
@given(finite, st.lists(st.floats(min_value=0.01, max_value=0.99),
                        min_size=0, max_size=3))
def test_ladder_numpy_matches_reference_semantics(vn, stages):
    """The vectorized ladder equals the reference's ascending-loop rule:
    error outside [-1,1]; else warning iff ANY stage s has vn>s or
    vn<-s; else OK."""
    from anomaly_detection_spark.operators.sequential import _ladder_codes_np

    got = _ladder_codes_np(np.array([vn]), tuple(stages))[0]
    if vn > 1.0 or vn < -1.0:
        want = -1
    elif any(vn > s or vn < -s for s in stages):
        want = 0
    else:
        want = 1
    assert got == want
