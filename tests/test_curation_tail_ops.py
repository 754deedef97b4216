"""Round-5b additions: benchmark decontamination, Gopher repetition
metrics (semantic vs vectorized-kernel differential), deterministic
token-budget mixture sampling, and PII detection/redaction +
URL-blocklist filtering."""

import math

import pytest

from pyspark.sql import functions as F

from anomaly_detection_spark.functions.decontam import (
    contamination_report, contamination_report_fused, word_ngram_pairs_vec,
    word_ngrams,
)
from anomaly_detection_spark.functions.repetition import (
    repetition_features, repetition_features_vec,
)
from anomaly_detection_spark.functions.sampling import (
    budget_mixture, deterministic_sample, hash_unit,
)


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "pack my box with five dozen liquor jugs right now please ok"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely unrelated content about spark shuffles and joins"),
        (4, "tiny"),
        (5, ""),
        (6, None),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def test_word_ngrams_basics(spark):
    df = spark.createDataFrame(
        [("A b  c d",), ("a b",), ("",)], "t string")
    out = df.select(word_ngrams(F.col("t"), 3).alias("g")).collect()
    assert out[0]["g"] == ["a b c", "b c d"]   # lowered, run-split
    assert out[1]["g"] == []                    # shorter than n
    assert out[2]["g"] == []


def test_contamination_exact_and_hashed_agree(spark):
    docs = _docs(spark)
    bench = spark.createDataFrame(
        [("THE QUICK brown fox jumps over the lazy dog",)], "text string")
    exact = {r["doc_id"]: (r["n_shared_grams"], r["contaminated"])
             for r in contamination_report(docs, bench, n=8,
                                           hashed=False).collect()}
    hashed = {r["doc_id"]: (r["n_shared_grams"], r["contaminated"])
              for r in contamination_report(docs, bench, n=8,
                                            hashed=True).collect()}
    assert exact == hashed
    # docs 0 and 2 share the planted 8-grams (case-insensitive); the
    # bench text has 9 words -> 2 distinct 8-grams, both inside doc 0/2.
    assert exact[0] == (2, True) and exact[2] == (2, True)
    # every doc is reported, including short/empty/null ones
    assert set(exact) == {0, 1, 2, 3, 4, 5, 6}
    assert exact[4] == (0, False) and exact[5] == (0, False)
    assert exact[6] == (0, False)


def test_contamination_broadcasts_the_benchmark(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") == 0).select("text")
    plan = contamination_report(docs, bench, n=8)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_word_ngram_pairs_vec_equals_hof(spark, sf_dir_small):
    """The mapInPandas gram kernel must produce the identical distinct
    (doc_id, gram) pair set as explode(word_ngrams(...)), on edge docs
    (case, whitespace runs, short/empty/null) AND a real corpus slice."""
    for n, df in ((3, _docs(spark)),
                  (8, _docs(spark)),
                  (8, spark.read.parquet(
                      f"{sf_dir_small}/documents.parquet").limit(300))):
        hof = {(r["doc_id"], r["gram"]) for r in
               df.select("doc_id",
                         F.explode(word_ngrams(F.col("text"), n))
                         .alias("gram")).collect()}
        vec = [(r["doc_id"], r["gram"]) for r in
               word_ngram_pairs_vec(df, n=n).collect()]
        assert len(vec) == len(set(vec))  # distinct per doc
        assert set(vec) == hof, n


def test_contamination_fused_equals_two_pass(spark):
    docs = _docs(spark)
    bench = spark.createDataFrame(
        [("THE QUICK brown fox jumps over the lazy dog",),
         ("pack my box with five dozen liquor jugs right now",)],
        "text string")
    two = {r["doc_id"]: (r["n_shared_grams"], r["contaminated"])
           for r in contamination_report(docs, bench, n=8,
                                         hashed=False).collect()}
    fused = {r["doc_id"]: r for r in
             contamination_report_fused(docs, bench, n=8).collect()}
    assert set(fused) == set(two)
    for k, (n_exact, flag) in two.items():
        assert (fused[k]["n_shared_grams"], fused[k]["contaminated"]) \
            == (n_exact, flag), k
        assert fused[k]["hash_agrees"] is True


# ---------------------------------------------------------------------------
# repetition metrics
# ---------------------------------------------------------------------------

def _lined_docs(spark):
    rows = [
        (0, "aaa bbb\nccc ddd\naaa bbb\neee fff"),   # line dup (2 of 4)
        (1, "x y\nz w"),                               # no dups
        (2, "r r r r r r"),                            # one line, top gram 'r r'
        (3, ""),                                       # empty
        (4, None),                                     # null
        (5, "solo"),                                   # 1 word: no bigram
        (6, "\n\nq p\n\n"),                            # empty lines filtered
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_repetition_semantic_known_values(spark):
    out = {r["doc_id"]: r.asDict()
           for r in repetition_features(_lined_docs(spark)).collect()}
    d0 = out[0]
    assert d0["n_lines"] == 4 and d0["n_distinct_lines"] == 3
    assert d0["dup_line_frac"] == pytest.approx(0.25)
    # 'aaa bbb' (7 chars) twice = 14 of 7+7+7+7=28 line chars
    assert d0["dup_line_char_frac"] == pytest.approx(0.5)
    d2 = out[2]
    assert d2["top_bigram"] == "r r"
    # 5 occurrences x 3 chars / 11 chars
    assert d2["top_bigram_char_frac"] == pytest.approx(15 / 11)
    assert out[3]["n_lines"] == 0 and out[3]["dup_line_frac"] == 0.0
    assert out[4]["n_lines"] == 0
    assert out[5]["top_bigram"] is None
    assert out[5]["top_bigram_char_frac"] == 0.0
    assert out[6]["n_lines"] == 1  # empty lines dropped


def test_repetition_vec_equals_semantic(spark, sf_dir_small):
    """The mapInPandas scale kernel must reproduce the explode+aggregate
    semantics element-exactly, on hand-built edge docs AND a real
    corpus slice."""
    for df in (
        _lined_docs(spark),
        spark.read.parquet(f"{sf_dir_small}/documents.parquet")
        .limit(200)
        .select("doc_id", F.concat_ws(
            "\n", F.substring("text", 1, 60), F.substring("text", 31, 60),
            F.substring("text", 1, 60)).alias("text")),
    ):
        a = {r["doc_id"]: r for r in repetition_features(df).collect()}
        b = {r["doc_id"]: r for r in repetition_features_vec(df).collect()}
        assert set(a) == set(b)
        for k in a:
            ra, rb = a[k], b[k]
            assert (ra["n_lines"], ra["n_distinct_lines"],
                    ra["top_bigram"]) == \
                   (rb["n_lines"], rb["n_distinct_lines"], rb["top_bigram"])
            for c in ("dup_line_frac", "dup_line_char_frac",
                      "top_bigram_char_frac"):
                assert ra[c] == pytest.approx(rb[c], abs=1e-12), (k, c)


def test_repetition_vec_plan_has_no_shuffle(spark):
    plan = repetition_features_vec(_lined_docs(spark))._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # all metrics computed inside the scan


# ---------------------------------------------------------------------------
# deterministic sampling / mixture
# ---------------------------------------------------------------------------

def test_hash_unit_range_and_determinism(spark):
    df = spark.range(0, 5000).select(
        hash_unit(F.col("id"), seed=3).alias("u"))
    rows = [r["u"] for r in df.collect()]
    assert all(0.0 <= u < 1.0 for u in rows)
    again = [r["u"] for r in df.collect()]
    assert rows == again
    # roughly uniform: mean within 3 sigma of 0.5
    m = sum(rows) / len(rows)
    assert abs(m - 0.5) < 3 * (1 / math.sqrt(12 * len(rows)))


def test_deterministic_sample_is_stable_and_seeded(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in
          deterministic_sample(df, "doc_id", 0.25, seed=1).collect()}
    s2 = {r["doc_id"] for r in
          deterministic_sample(df, "doc_id", 0.25, seed=1).collect()}
    s3 = {r["doc_id"] for r in
          deterministic_sample(df, "doc_id", 0.25, seed=2).collect()}
    assert s1 == s2
    assert s1 != s3
    assert abs(len(s1) / 2000 - 0.25) < 0.05
    # nesting property: a higher rate strictly contains a lower one
    s_big = {r["doc_id"] for r in
             deterministic_sample(df, "doc_id", 0.5, seed=1).collect()}
    assert s1 <= s_big


def test_budget_mixture_rates_and_clamp(spark, sf_dir_small):
    docs = spark.read.parquet(f"{sf_dir_small}/documents.parquet")
    budgets = {"en": 10_000_000.0, "de": 3_000.0}
    out = budget_mixture(docs, budgets, seed=7)
    rows = out.select("doc_id", "lang", "_tokens", "_rate").collect()
    langs = {r["lang"] for r in rows}
    assert langs <= {"en", "de"}  # absent strata dropped
    en_rate = {r["_rate"] for r in rows if r["lang"] == "en"}
    assert en_rate == {1.0}  # oversubscribed budget clamps
    # fractional stratum: sampled tokens land near the budget
    de_tokens = sum(r["_tokens"] for r in rows if r["lang"] == "de")
    de_total = (docs.filter(F.col("lang") == "de").count())
    if de_total > 50:  # enough docs for the concentration bound
        assert 0.4 * 3_000 < de_tokens < 2.5 * 3_000
    # en keeps every doc (rate 1.0)
    n_en = docs.filter(F.col("lang") == "en").count()
    assert sum(1 for r in rows if r["lang"] == "en") == n_en


def test_budget_mixture_corpus_never_shuffles(spark, sf_dir_small):
    """The rate table joins back by BROADCAST; the only exchange in the
    plan is the few-row totals aggregate, never the corpus itself."""
    docs = spark.read.parquet(f"{sf_dir_small}/documents.parquet")
    plan = budget_mixture(docs, {"en": 5000.0}, seed=7)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


# ---------------------------------------------------------------------------
# PII detection / redaction / blocklist
# ---------------------------------------------------------------------------

def _pii_docs(spark):
    rows = [
        (0, "mail bob@x.com and sue.smith+tag@sub.example.org today"),
        (1, "call 555-123-4567 or 555.987.6543 now"),
        (2, "hosts 10.0.0.1 and 999.1.1.1 and 256.1.2.3 here"),
        (3, "see https://spam0.example/a?b=1 and http://ok.org/c."),
        (4, "nested http://h.io/10.0.0.1/x page"),
        (5, "clean text with nothing sensitive at all"),
        (6, ""),
        (7, None),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_pii_counts_known_values(spark):
    from anomaly_detection_spark.functions.pii import pii_counts

    df = _pii_docs(spark)
    c = pii_counts(F.col("text"))
    out = {r["doc_id"]: r.asDict() for r in df.select(
        "doc_id", c["n_emails"], c["n_phones"], c["n_ipv4"],
        c["n_urls"]).collect()}
    assert out[0]["n_emails"] == 2
    assert out[1]["n_phones"] == 2
    # 999.1.1.1 and 256.1.2.3 are NOT valid IPv4s (octet > 255 and the
    # word boundary blocks a partial match); only 10.0.0.1 counts
    assert out[2]["n_ipv4"] == 1
    assert out[3]["n_urls"] == 2
    # an IPv4 inside a URL path counts under BOTH patterns (documented)
    assert out[4]["n_urls"] == 1 and out[4]["n_ipv4"] == 1
    assert all(v == 0 for k, v in out[5].items() if k != "doc_id")
    assert all(v == 0 for k, v in out[6].items() if k != "doc_id")
    assert all(v == 0 for k, v in out[7].items() if k != "doc_id")


def test_pii_redaction_order_and_idempotence(spark):
    from anomaly_detection_spark.functions.pii import pii_counts, redact_pii

    df = _pii_docs(spark)
    red = df.select("doc_id", redact_pii(F.col("text")).alias("text"))
    out = {r["doc_id"]: r["text"] for r in red.collect()}
    assert out[0] == "mail <EMAIL> and <EMAIL> today"
    assert out[1] == "call <PHONE> or <PHONE> now"
    assert out[2] == "hosts <IPV4> and 999.1.1.1 and 256.1.2.3 here"
    # URL redacted FIRST, so the nested IP vanishes with its container
    assert out[4] == "nested <URL> page"
    assert out[7] == ""  # NULL text redacts to ''
    # redacted text contains zero residual matches (idempotence)
    c = pii_counts(F.col("text"))
    resid = red.select(
        (c["n_emails"] + c["n_phones"] + c["n_ipv4"] + c["n_urls"]
         ).alias("n")).agg(F.sum("n")).collect()[0][0]
    assert resid == 0


def test_blocklist_join_equals_expression(spark):
    from anomaly_detection_spark.functions.pii import (
        blocked_by_join, blocked_flag_expr,
    )

    df = _pii_docs(spark)
    domains = ["spam0.example", "h.io"]
    bl = spark.createDataFrame([(d,) for d in domains], "domain string")
    joined = {r["doc_id"]: r["blocked"]
              for r in blocked_by_join(df, bl).collect()}
    expr = {r["doc_id"]: r["b"] for r in df.select(
        "doc_id",
        blocked_flag_expr(F.col("text"), domains).alias("b")).collect()}
    assert joined == expr
    assert joined[3] is True and joined[4] is True
    assert joined[5] is False and joined[7] is False
    assert set(joined) == set(range(8))  # total over all docs


def test_blocklist_sql_escapes_quotes(spark):
    """A domain containing a single quote must neither break nor inject
    into the DuckDB twin: it stays one literal list element."""
    import duckdb

    from anomaly_detection_spark.functions.pii import (
        blocked_flag_expr, blocked_flag_sql,
    )

    df = _pii_docs(spark)
    domains = ["spam0.example", "o'hare.example", "x', 'h.io"]
    spark_flags = {r["doc_id"]: r["b"] for r in df.select(
        "doc_id", blocked_flag_expr(F.col("text"), domains).alias("b")
    ).collect()}
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    duck = dict(con.execute(
        f"SELECT doc_id, {blocked_flag_sql('text', domains)} FROM docs"
    ).fetchall())
    assert duck == spark_flags
    # 'h.io' is only a substring of the quoted domain, never a list entry
    assert duck[3] is True and duck[4] is False


def test_budget_mixture_sql_escapes_quotes():
    import duckdb

    from anomaly_detection_spark.functions.sampling import budget_mixture_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                "(1, 'it''s', 'a b c'), (2, 'en', 'd e'), (3, 'x', 'f')) "
                "t(doc_id, lang, text)")
    sql = budget_mixture_sql({"it's": 1e9, "en": 1e9})
    got = con.execute(
        f"SELECT doc_id, _rate FROM ({sql}) ORDER BY doc_id").fetchall()
    assert got == [(1, 1.0), (2, 1.0)]


def test_pii_plan_shapes(spark):
    from anomaly_detection_spark.functions.pii import (
        blocked_by_join, pii_counts, redact_pii,
    )

    df = _pii_docs(spark)
    c = pii_counts(F.col("text"))
    proj = df.select("doc_id", c["n_emails"], redact_pii(F.col("text")))
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan          # report rides the scan
    assert "BatchEvalPython" not in plan   # zero Python
    bl = spark.createDataFrame([("spam0.example",)], "domain string")
    jplan = blocked_by_join(df, bl)._jdf.queryExecution() \
        .executedPlan().toString()
    # the BLOCKLIST side must broadcast (the corpus-sized side never
    # shuffles to meet it); the id-spine join-back is a narrow
    # ids+bool join — SMJ in the static plan, broadcast under AQE when
    # the flagged set is small — and is exempt from this assertion
    assert "BroadcastHashJoin" in jplan and "_host" in \
        jplan[jplan.index("BroadcastHashJoin"):].splitlines()[0]
    assert "CartesianProduct" not in jplan
    assert "BroadcastNestedLoop" not in jplan


# ---------------------------------------------------------------------------
# dedup-safe split
# ---------------------------------------------------------------------------

def test_dedup_safe_split_components_share_split(spark):
    from anomaly_detection_spark.functions.sampling import (
        dedup_safe_split, split_leakage,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id bigint")
    # two cliques (0-1-2 chained, 10-11) + singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a bigint, id_b bigint")
    out = dedup_safe_split(docs, pairs, seed=5)
    rows = {r["doc_id"]: (r["component"], r["split"])
            for r in out.collect()}
    assert len(rows) == 200  # total over the corpus
    # clique members share component AND split
    assert rows[0] == rows[1] == rows[2]
    assert rows[10] == rows[11]
    assert rows[0][0] == 0 and rows[10][0] == 10  # min-id component
    # singleton components are the doc's own id
    assert rows[42][0] == 42
    # the independent checker sees zero leakage
    assert split_leakage(out).count() == 0
    # all three splits materialize and fractions are roughly honored
    from collections import Counter
    c = Counter(s for _, s in rows.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > 100


def test_dedup_safe_split_deterministic_and_seeded(spark):
    from anomaly_detection_spark.functions.sampling import dedup_safe_split

    docs = spark.createDataFrame([(i,) for i in range(300)],
                                 "doc_id bigint")
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    a = {r["doc_id"]: r["split"]
         for r in dedup_safe_split(docs, pairs, seed=5).collect()}
    b = {r["doc_id"]: r["split"]
         for r in dedup_safe_split(docs, pairs, seed=5).collect()}
    c = {r["doc_id"]: r["split"]
         for r in dedup_safe_split(docs, pairs, seed=6).collect()}
    assert a == b
    assert a != c


def test_split_leakage_catches_violations(spark):
    from anomaly_detection_spark.functions.sampling import split_leakage

    bad = spark.createDataFrame(
        [(0, 7, "train"), (1, 7, "test"), (2, 9, "val"), (3, 9, "val")],
        "doc_id bigint, component bigint, split string")
    v = split_leakage(bad).collect()
    assert len(v) == 1 and v[0]["component"] == 7 and v[0]["n_splits"] == 2


# ---------------------------------------------------------------------------
# review-pass regressions (round-5b second review)
# ---------------------------------------------------------------------------

def test_word_ngram_pairs_vec_short_batch_no_crash(spark):
    """A batch whose total word count is strictly between (n-1)/2 and
    n-1 used to hit a numpy broadcast ValueError (negative slice stop
    vs empty tail slice). One 5-word doc in its own partition, n=8."""
    df = spark.createDataFrame([(0, "a b c d e")],
                               "doc_id bigint, text string").repartition(1)
    assert word_ngram_pairs_vec(df, n=8).collect() == []
    # and a batch mixing one short and one long doc still yields the
    # long doc's grams
    df2 = spark.createDataFrame(
        [(0, "a b c d e"), (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9")],
        "doc_id bigint, text string").repartition(1)
    out = {(r["doc_id"], r["gram"])
           for r in word_ngram_pairs_vec(df2, n=8).collect()}
    assert out == {(1, "w1 w2 w3 w4 w5 w6 w7 w8"),
                   (1, "w2 w3 w4 w5 w6 w7 w8 w9")}


def test_vec_kernels_keep_unicode_whitespace(spark):
    """Python \\s is Unicode-aware; the kernels must use the explicit
    Java \\s class so NBSP-joined tokens stay single words, matching
    the JVM forms and the RE2 oracle."""
    nb = "a b"  # NBSP: ONE word under Java/RE2 \s, two under Python \s
    df = spark.createDataFrame(
        [(0, f"{nb} x y z w1 w2 w3 w4")], "doc_id bigint, text string")
    hof = {(r["doc_id"], r["gram"]) for r in
           df.select("doc_id", F.explode(word_ngrams(F.col("text"), 8))
                     .alias("gram")).collect()}
    vec = {(r["doc_id"], r["gram"]) for r in
           word_ngram_pairs_vec(df, n=8).collect()}
    assert vec == hof and any(nb in g for _, g in vec)
    rep_sem = repetition_features(df).collect()[0]
    rep_vec = repetition_features_vec(df).collect()[0]
    assert rep_sem["top_bigram"] == rep_vec["top_bigram"]


def test_repetition_literal_line_sep(spark):
    """line_sep is literal in all forms — a regex-special separator
    like '|' must not explode into a match-anything pattern."""
    df = spark.createDataFrame(
        [(0, "p q|r s|p q")], "doc_id bigint, text string")
    for fn in (repetition_features, repetition_features_vec):
        r = fn(df, line_sep="|").collect()[0]
        assert (r["n_lines"], r["n_distinct_lines"]) == (3, 2), fn.__name__
        # (n_lines - n_distinct) / n_lines = (3 - 2) / 3
        assert r["dup_line_frac"] == pytest.approx(1 / 3)


def test_curation_tail_streams_stateless(spark, tmp_path):
    """The scrub/feature path of the curation tail is stateless, so it
    must run unchanged on a Structured Streaming source and produce
    element-exactly the batch result per micro-batch: PII counts +
    redaction (codegen exprs), repetition_features_vec (mapInPandas),
    and the deterministic hash sample (pure filter)."""
    from anomaly_detection_spark.functions.pii import pii_counts, redact_pii
    from anomaly_detection_spark.functions.sampling import hash_unit
    from anomaly_detection_spark.streaming.stream import (
        run_to_memory, stream_source,
    )

    schema = "doc_id bigint, text string"
    rows = [
        (0, "mail bob@x.com now\nmail bob@x.com now\nsee 10.0.0.1"),
        (1, "call 555-123-4567 or visit https://spam0.example/x"),
        (2, "plain text line\nanother line"),
        (3, ""),
    ]
    src = str(tmp_path / "docs_in")
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    def pipeline(df):
        c = pii_counts(F.col("text"))
        scrub = df.select(
            "doc_id", c["n_emails"], c["n_ipv4"], c["n_phones"],
            c["n_urls"], redact_pii(F.col("text")).alias("redacted"),
            (hash_unit(F.col("doc_id"), seed=3) < 0.5).alias("sampled"))
        rep = repetition_features_vec(df).select(
            "doc_id", "n_lines", "dup_line_frac", "top_bigram")
        return scrub.join(rep, "doc_id")

    stream = stream_source(spark, path=src, schema=schema)
    assert stream.isStreaming
    q = run_to_memory(pipeline(stream), "tail_stream", mode="append")
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: r for r in
               spark.table("tail_stream").collect()}
    finally:
        q.stop()
    want = {r["doc_id"]: r for r in
            pipeline(spark.read.parquet(src)).collect()}
    assert set(got) == set(want) == {0, 1, 2, 3}
    for k in want:
        assert got[k] == want[k], k
    assert got[0]["redacted"].count("<EMAIL>") == 2
    assert got[0]["n_lines"] == 3 and got[0]["dup_line_frac"] > 0


def test_repetition_multichar_literal_sep(spark):
    """Multi-char separators with regex metachars must split literally
    in BOTH forms (pandas str.split would regex-infer '||' without
    regex=False — second-review finding)."""
    df = spark.createDataFrame(
        [(0, "a||b||a")], "doc_id bigint, text string")
    for fn in (repetition_features, repetition_features_vec):
        r = fn(df, line_sep="||").collect()[0]
        assert (r["n_lines"], r["n_distinct_lines"]) == (3, 2), fn.__name__


def test_hash_unit_sql_matches_spark_for_negative_keys(spark):
    """The SQL twin's sign-wrapped mod must equal Spark's pmod on
    negative keys."""
    import duckdb

    from anomaly_detection_spark.functions.sampling import hash_unit_sql

    keys = [-1, -5, -4294967296, -4294967297, 0, 1, 17, 2**40]
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    sp = {r["k"]: r["u"] for r in
          df.select("k", hash_unit(F.col("k"), seed=9).alias("u")).collect()}
    con = duckdb.connect()
    for k in keys:
        u = con.execute(f"SELECT {hash_unit_sql(str(k), seed=9)}").fetchone()[0]
        assert sp[k] == u, k
        assert 0.0 <= u < 1.0


# ---------------------------------------------------------------------------
# vocabulary statistics
# ---------------------------------------------------------------------------

def test_word_stats_known_values(spark):
    from anomaly_detection_spark.functions.vocab import word_stats

    df = spark.createDataFrame(
        [(0, "aa bb aa"), (1, "AA cc"), (2, ""), (3, None)],
        "doc_id bigint, text string")
    out = {r["word"]: (r["count"], r["doc_freq"])
           for r in word_stats(df).collect()}
    assert out == {"aa": (3, 2), "bb": (1, 1), "cc": (1, 1)}  # lowered


def test_vocab_topk_tiebreak_and_idf(spark):
    import math

    from anomaly_detection_spark.functions.vocab import vocab_topk

    df = spark.createDataFrame(
        [(0, "z y x"), (1, "z y w"), (2, "z v")],
        "doc_id bigint, text string")
    rows = vocab_topk(df, 3, n_docs=3).collect()
    # z(3) first; y(2) next; then the count-1 tie broken on word asc: v
    assert [r["word"] for r in rows] == ["z", "y", "v"]
    z = rows[0]
    assert z["count"] == 3 and z["doc_freq"] == 3
    assert z["idf"] == pytest.approx(math.log(4 / 4) + 1)
    assert rows[2]["idf"] == pytest.approx(math.log(4 / 2) + 1)


def test_stopword_candidates_threshold(spark):
    from anomaly_detection_spark.functions.vocab import stopword_candidates

    df = spark.createDataFrame(
        [(0, "the cat"), (1, "the dog"), (2, "the fox"), (3, "owl")],
        "doc_id bigint, text string")
    cands = {r["word"] for r in
             stopword_candidates(df, max_doc_frac=0.5).collect()}
    assert cands == {"the"}  # 3/4 docs > 0.5; everything else 1/4


def test_vocab_plan_shape(spark):
    from anomaly_detection_spark.functions.vocab import vocab_topk

    df = spark.createDataFrame([(0, "a b")], "doc_id bigint, text string")
    plan = vocab_topk(df, 5, n_docs=1)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # heap top-k, no full sort
    assert "BatchEvalPython" not in plan    # zero Python


def test_ascii_fold_is_engine_identical_on_unicode_case(spark):
    """Full Unicode lower() diverges cross-engine (Spark 'İ'->'i'+U+0307,
    DuckDB 'İ'->'i'; final sigma differs too), so word/gram keys use
    ASCII-only folding — this pins all three implementations (JVM
    expression, pandas kernel, DuckDB SQL) byte-identical on the
    divergence-triggering inputs."""
    import duckdb

    from anomaly_detection_spark.functions.text import (
        ASCII_LOWER_TABLE, ascii_lower, ascii_lower_sql,
    )
    from anomaly_detection_spark.functions.vocab import word_stats

    s = "İstanbul ΣΣ ABC tail"
    df = spark.createDataFrame([(0, s)], "doc_id bigint, text string")
    jvm = df.select(ascii_lower(F.col("text")).alias("t")).collect()[0]["t"]
    py = s.translate(ASCII_LOWER_TABLE)
    con = duckdb.connect()
    sql = con.execute(f"SELECT {ascii_lower_sql(repr(s))}").fetchone()[0]
    assert jvm == py == sql == "İstanbul ΣΣ abc tail"
    # and the vocab keys survive the round trip: non-ASCII case is
    # content, ASCII folds
    words = {r["word"] for r in word_stats(df).collect()}
    assert words == {"İstanbul", "ΣΣ", "abc", "tail"}
