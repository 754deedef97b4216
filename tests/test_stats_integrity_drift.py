"""Distributed stats / integrity / drift / iForest operators against exact
numpy or SQL-style ground truth, on the planted-violation corpus."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.corpus import (
    expected_violation_ids,
    generate_code_corpus,
)
from anomaly_detection_spark.operators.drift import (
    ks_check,
    ks_sketches,
    partition_stat_drift,
    psi_categorical,
    psi_numeric,
)
from anomaly_detection_spark.operators.integrity import (
    duplicate_keys,
    referential_violations,
    uniqueness_violations,
)
from anomaly_detection_spark.operators.mvoutlier import (
    IsolationForest,
    iforest_check,
)
from anomaly_detection_spark.operators.stats import (
    column_profile,
    hll_distinct,
)
from tests.conftest import plan_counts, plan_lines

N = 25_000


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_code_corpus(spark, N).withColumn(
        "content_len", F.length("content").cast("double")
    ).cache()
    df.count()
    return df


def test_column_profile_matches_numpy(spark, corpus):
    """Per group, nulls included: n counts every row, the moments and
    extremes only the non-null values."""
    df = corpus.withColumn("content_len", F.when(
        F.col("row_id") % 7 == 0, None).otherwise(F.col("content_len")))
    got = {r["lang"]: r for r in column_profile(df, "content_len", ["lang"]).collect()}
    pdf = df.select("lang", "content_len").toPandas()
    assert set(got) == set(pdf["lang"])
    for lang, g in pdf.groupby("lang", dropna=False):
        r, v = got[lang], g["content_len"].dropna().to_numpy()
        assert r["n"] == len(g) and r["n_null"] == len(g) - len(v)
        assert r["mean"] == pytest.approx(v.mean(), rel=1e-9)
        assert r["stddev_samp"] == pytest.approx(v.std(ddof=1), rel=1e-9)
        assert r["var_pop"] == pytest.approx(v.var(), rel=1e-9)
        assert r["min"] == v.min() and r["max"] == v.max()


def test_uniqueness_finds_planted_dups(spark, corpus):
    expected = expected_violation_ids(N)["dup"]
    dup_rows = uniqueness_violations(corpus, ["repo", "path", "commit"])
    got_ids = sorted(r["row_id"] for r in dup_rows.select("row_id").collect())
    # every planted dup row i duplicates row i-1 -> both copies flagged
    want = sorted(set(expected) | {i - 1 for i in expected})
    assert got_ids == want
    dk = duplicate_keys(corpus, ["repo", "path", "commit"]).collect()
    assert all(r["dup_count"] == 2 for r in dk)
    assert len(dk) == len(expected)


def test_referential_violations_planted(spark, corpus):
    """Exactly the planted bad-lang rows, plus every fact row whose key
    is NULL (it can match no dim key)."""
    dim = spark.createDataFrame(
        [(lang,) for lang in ["python", "java", "go", "js", "rust", "c", "md"]],
        "lang string",
    )
    exact = referential_violations(corpus, "lang", dim, "lang")
    e = sorted(r["row_id"] for r in exact.select("row_id").collect())
    assert e == expected_violation_ids(N)["bad_lang"]
    null_rows = corpus.filter(F.col("row_id") < 3).withColumns({
        "row_id": F.col("row_id") + N, "lang": F.lit(None).cast("string")})
    with_nulls = referential_violations(
        corpus.unionByName(null_rows), "lang", dim, "lang")
    got = sorted(r["row_id"] for r in with_nulls.select("row_id").collect())
    assert got == expected_violation_ids(N)["bad_lang"] + [N, N + 1, N + 2]


def test_ks_same_vs_shifted(spark):
    rng = np.random.default_rng(1)
    a = spark.createDataFrame([(float(x),) for x in rng.normal(0, 1, 4000)], "v double")
    b = spark.createDataFrame([(float(x),) for x in rng.normal(0, 1, 4000)], "v double")
    c = spark.createDataFrame([(float(x),) for x in rng.normal(2, 1, 4000)], "v double")
    ks_same, code_same = ks_check(a, b, "v", UL=0.2, warning_stages=(0.5,))
    ks_diff, code_diff = ks_check(a, c, "v", UL=0.2, warning_stages=(0.5,))
    assert ks_same < 0.08
    assert ks_diff > 0.5
    assert code_same == 1 and code_diff == -1


def test_psi_numeric_and_categorical(spark):
    rng = np.random.default_rng(2)
    base = spark.createDataFrame([(float(x),) for x in rng.normal(0, 1, 5000)], "v double")
    same = spark.createDataFrame([(float(x),) for x in rng.normal(0, 1, 5000)], "v double")
    shifted = spark.createDataFrame([(float(x),) for x in rng.normal(1.5, 1, 5000)], "v double")
    psi_same = psi_numeric(base, same, "v", lo=-4, hi=4).first()["psi"]
    psi_shift = psi_numeric(base, shifted, "v", lo=-4, hi=4).first()["psi"]
    assert psi_same < 0.05 and psi_shift > 0.5
    cb = spark.createDataFrame([("a",)] * 90 + [("b",)] * 10, "cat string")
    cc = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "cat string")
    assert psi_categorical(cb, cb, "cat").first()["psi"] == pytest.approx(0.0, abs=1e-9)
    assert psi_categorical(cb, cc, "cat").first()["psi"] > 0.5


def test_partition_stat_drift_flags_shifted_partition(spark):
    rng = np.random.default_rng(3)
    rows = []
    for p in range(12):
        mu = 10.0 if p < 11 else 25.0  # last partition drifts
        for x in rng.normal(mu, 1.0, 300):
            rows.append((p, float(x)))
    df = spark.createDataFrame(rows, "part int, v double")
    out = partition_stat_drift(df, "part", "v", N=5, X=3.0).orderBy("part").collect()
    codes = [r["code"] for r in out]
    assert codes[:5] == [2] * 5  # warm-up
    assert all(c == 1 for c in codes[5:11])
    assert codes[11] == -1


def test_iforest_numpy_flags_planted_outliers():
    rng = np.random.default_rng(4)
    X = np.vstack([rng.normal(0, 1, (500, 2)), np.array([[8.0, 8.0], [-9.0, 7.5]])])
    f = IsolationForest(n_trees=100, subsample=128, seed=0).fit(X)
    s = f.score(X)
    assert s[-1] > 0.6 and s[-2] > 0.6
    assert np.quantile(s[:-2], 0.95) < max(s[-1], s[-2])
    # determinism
    s2 = IsolationForest(n_trees=100, subsample=128, seed=0).fit(X).score(X)
    assert np.allclose(s, s2)


def test_iforest_check_spark(spark):
    rng = np.random.default_rng(5)
    rows = []
    for g in ("g1", "g2"):
        for i, (x, y) in enumerate(rng.normal(0, 1, (400, 2))):
            rows.append((g, i, float(x), float(y)))
        rows.append((g, 400, 9.0, 9.0))  # planted outlier per group
    df = spark.createDataFrame(rows, "grp string, rid int, fx double, fy double")
    out = iforest_check(
        df, "grp", ["fx", "fy"], n_trees=100, subsample=128,
        contamination=0.005, extra_cols=["rid"],
    )
    flagged = {(r["grp"], r["rid"]) for r in out.filter("code = -1").collect()}
    assert ("g1", 400) in flagged and ("g2", 400) in flagged
    assert len(flagged) <= 10  # few false positives


@pytest.mark.parametrize("check", ["iforest", "pca_iforest", "codisp"])
def test_forest_checks_ignore_row_order(spark, check):
    """A grouped fit draws its training rows from the group's canonical
    order, so its verdicts do not depend on the order in which the
    shuffle delivers the rows."""
    from anomaly_detection_spark.operators import mvoutlier

    rng = np.random.default_rng(11)
    rows = [(g, i, float(x), float(y))
            for g in ("g1", "g2")
            for i, (x, y) in enumerate(rng.normal(0, 1, (300, 2)))]
    df = spark.createDataFrame(rows, "grp string, rid int, fx double, fy double")
    fn = getattr(mvoutlier, f"{check}_check")
    kw = {"n_trees": 20, "subsample": 64, "max_train": 200,
          "extra_cols": ["rid"]}
    if check == "codisp":
        kw["threshold"] = 3.0
    else:
        kw["contamination"] = 0.05

    def codes(frame):
        return {(r["grp"], r["rid"]): r["code"]
                for r in fn(frame, "grp", ["fx", "fy"], **kw).collect()}

    want = codes(df)
    assert codes(df.orderBy(F.rand(1))) == want
    assert codes(df.orderBy(F.col("fx").desc())) == want
    assert len(set(want.values())) > 1  # the check flags something


def test_core_samples_ignore_row_order():
    """The clustering twin of the test above, on the fit itself:
    clustering_check_grouped only draws from groups over 4096 rows."""
    from anomaly_detection_spark.operators.clustering import _core_samples

    X = np.random.default_rng(4).normal(0, 1, (400, 2))
    perm = np.random.default_rng(5).permutation(len(X))

    def cores(M):
        c = _core_samples(M, eps=0.3, min_samples=4, max_train=100)
        return c[np.lexsort(c.T[::-1])]

    want = cores(X)
    assert 0 < len(want) < 100
    assert np.array_equal(cores(X[perm]), want)


def test_hll_distinct_spark(spark, corpus):
    got = {r["part_key"]: r["n_distinct_approx"]
           for r in hll_distinct(corpus, "path", "lang").collect()}
    exact = {r["lang"]: r["d"] for r in corpus.groupBy("lang").agg(
        F.countDistinct("path").alias("d")).collect()}
    for lang, d in exact.items():
        assert abs(got[lang] - d) / max(d, 1) < 0.08, (lang, got[lang], d)


PYTHON_STAGES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                 "BatchEvalPython")


def test_stats_and_drift_plan_no_python_stage(spark, corpus):
    half = F.col("row_id") % 2 == 0
    plans = {
        "profile": column_profile(corpus, "content_len"),
        "profile_keyed": column_profile(corpus, "content_len", ["lang"]),
        "hll": hll_distinct(corpus, "path", "lang"),
        "ks_sketches": ks_sketches(corpus.filter(half), corpus.filter(~half),
                                   "content_len"),
        "psi": psi_numeric(corpus.filter(half), corpus.filter(~half),
                           "content_len", lo=0, hi=4000),
        "referential": referential_violations(
            corpus, "lang", corpus.filter(half).select("lang"), "lang"),
        "uniqueness": uniqueness_violations(corpus, ["repo", "path", "commit"]),
    }
    for name, df in plans.items():
        plan = "\n".join(plan_lines(df))
        assert not [s for s in PYTHON_STAGES if s in plan], (name, plan)
    # the keyed profile is one hash aggregate: partial, one shuffle, final
    assert plan_counts(plans["profile_keyed"])[1] == 1


def test_referential_no_forced_broadcast(spark, corpus):
    """With auto-broadcast off, the referential check plans a sort-merge
    anti-join: no join hint forces the dim side into a broadcast."""
    dim = corpus.filter(F.col("row_id") % 2 == 0).select("lang")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = "\n".join(plan_lines(
            referential_violations(corpus, "lang", dim, "lang")))
    finally:
        spark.conf.set(key, old)
    assert "BroadcastExchange" not in plan, plan
    assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan


def test_duplicate_keys_hot_key_exact_one_exchange(spark):
    """One hot key x 20k rows plus unique keys: the exact dup_count from
    ONE hash aggregate (its map-side partial count absorbs the hot key),
    so the plan has exactly one Exchange."""
    hot = spark.range(20_000).select(F.lit(-1).cast("long").alias("k"),
                                     F.lit("x").alias("tag"))
    uniq = spark.range(5_000).select(F.col("id").alias("k"),
                                     F.lit("x").alias("tag"))
    df = hot.unionByName(uniq)
    assert plan_counts(duplicate_keys(df, ["k", "tag"]))[1] == 1
    assert [tuple(r) for r in duplicate_keys(df, ["k", "tag"]).collect()] \
        == [(-1, "x", 20_000)]
