"""Benchmark decontamination: flag training documents that share a word
n-gram with an evaluation benchmark.

The public recipe (GPT-2/GPT-3 appendix C, Gopher §A.5, LLaMA): a
training document is *contaminated* if any normalized word n-gram
(n ~ 8-13) also occurs in an eval benchmark; contaminated docs are
dropped or split. Scale shape matters more than the formula:

* the benchmark side is SMALL (thousands of prompts) — its distinct
  n-gram set is built once and **broadcast**; the 100-TB corpus is never
  shuffled to meet it;
* the corpus side explodes its distinct n-grams **per partition** and
  meets the broadcast set in the scan stage; only MATCHED (doc, gram)
  pairs — a vanishing fraction — reach the per-doc count aggregate, so
  the one shuffle in the plan carries matches, not the corpus;
* at scale the join key is a 64-bit gram hash (xxhash64, codegen'd,
  8 bytes instead of ~80-byte strings); hash collisions can only
  ADD false contamination hits (conservative direction for
  decontamination — never misses a real overlap).

Both the exact (string-key) and hash forms are provided; the driver
query runs both and asserts they agree, the hll_accuracy pattern for
oracle-checking an approximation (the oracle replays the exact form in
ANSI SQL — DuckDB has no xxhash64).

Normalization: ASCII-only case folding (text.ascii_lower — full
Unicode lower() is engine-dependent, see text.py) + split on the
shared Java whitespace class — identical in Spark, pandas, and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.functions.text import (
    ASCII_LOWER_TABLE, JAVA_WS_RE, ascii_lower, ascii_lower_sql,
)


def word_ngrams(text: Column, n: int, *, lower: bool = True,
                distinct: bool = True) -> Column:
    """Word n-grams of ``text`` as array<string> (space-joined,
    lowercased; distinct by default — contamination is set membership).
    Docs with fewer than ``n`` words yield an empty array (a short doc
    cannot be contaminated at this n). Pure codegen HOFs — no Python,
    no shuffle."""
    t = ascii_lower(text) if lower else text
    words = F.filter(F.split(F.trim(t), JAVA_WS_RE), lambda w: w != "")
    k = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(k >= 1, grams).otherwise(
        F.array().cast("array<string>"))


def word_ngrams_sql(col: str, n: int, *, lower: bool = True,
                    distinct: bool = True) -> str:
    """DuckDB twin of :func:`word_ngrams` (list slicing is inclusive of
    the end index, hence ``i : i + n - 1``). The split class is the
    explicit Java ``\\s`` set — RE2's ``\\s`` lacks vertical tab, so a
    bare ``\\s+`` here would tokenize VT-bearing docs differently from
    the Spark side. With ``distinct``, DuckDB's ``list_distinct`` does
    not keep element order (Spark's ``array_distinct`` does), so the
    gram ARRAY's order is engine-dependent: the twin is only valid where
    the grams are unnested or consumed as a set."""
    t = ascii_lower_sql(col) if lower else col
    words = (f"list_filter(string_split_regex(trim({t}), "
             f"'{JAVA_WS_RE}'), w -> w <> '')")
    grams = (f"list_transform(range(1, len({words}) - {n - 1} + 1), "
             f"i -> array_to_string(({words})[i : i + {n - 1}], ' '))")
    if distinct:
        grams = f"list_distinct({grams})"
    return f"""
CASE WHEN len({words}) >= {n} THEN {grams} ELSE [] END
"""


def word_ngram_pairs_vec(df: DataFrame, *, id_col: str = "doc_id",
                         text_col: str = "text", n: int = 8) -> DataFrame:
    """Scale-path twin of ``explode(word_ngrams(...))``: distinct
    (id, gram) pairs produced by one ``mapInPandas`` projection — the
    whole batch is split/shifted/joined with pandas C kernels, no
    interpreted array-HOF lambdas (PLANS.md lesson 1: Spark HOF lambdas
    run on an interpreter per element; this exact explode measured warm
    4.1s HOF vs 1.1s vec on the sf0.1 corpus, 236k grams).
    Differential-tested equal to the HOF form.

    The split pattern is the explicit Java ``\\s`` class
    ``[ \\t\\n\\x0B\\f\\r]+`` so the kernel matches Spark's (and the
    DuckDB oracle's) non-Unicode whitespace semantics byte-for-byte.
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            texts = pdf[text_col].fillna("").str.translate(
                ASCII_LOWER_TABLE)
            words = texts.str.split(JAVA_WS_RE, regex=True).explode()
            words = words[words.notna() & (words != "")]
            if not len(words):
                yield pd.DataFrame({id_col: pdf[id_col][:0], "gram": []})
                continue
            if len(words) < n:  # a negative slice stop would misalign
                yield pd.DataFrame({id_col: pdf[id_col][:0], "gram": []})
                continue
            wdi = words.index.to_numpy()
            ws = words.reset_index(drop=True)
            # gram exists at i iff positions i..i+n-1 share one doc
            same = wdi[: len(wdi) - n + 1] == wdi[n - 1:]
            if not same.any():
                yield pd.DataFrame({id_col: pdf[id_col][:0], "gram": []})
                continue
            g = ws[: len(ws) - n + 1][same]
            for j in range(1, n):
                g = g.str.cat(ws.shift(-j)[: len(ws) - n + 1][same], sep=" ")
            out = (pd.DataFrame({"_d": wdi[: len(wdi) - n + 1][same],
                                 "gram": g.to_numpy()})
                   .drop_duplicates())
            out[id_col] = pdf[id_col].to_numpy()[out.pop("_d").to_numpy()]
            yield out[[id_col, "gram"]]

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        kernel, schema=f"`{id_col}` {id_type}, gram string")


def benchmark_grams(bench: DataFrame, *, text_col: str = "text",
                    n: int = 8) -> DataFrame:
    """Distinct normalized n-grams of the benchmark — the broadcast side.
    One column ``gram``; callers add the hash if they join hashed."""
    return (bench
            .select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
            .distinct())


def contamination_report(docs: DataFrame, bench: DataFrame, *,
                         id_col: str = "doc_id", text_col: str = "text",
                         n: int = 8, hashed: bool = True) -> DataFrame:
    """Per-document contamination counts vs a benchmark.

    Returns (id_col, n_shared_grams, contaminated) covering EVERY input
    doc (uncontaminated docs report 0/false — decontamination is a
    keep/drop decision for each doc, so the report must be total).

    ``hashed=True`` joins on xxhash64(gram) — the 100-TB path (narrow
    8-byte broadcast keys). ``hashed=False`` joins on the gram string —
    the exact form the DuckDB oracle can replay.
    """
    # plain explode: gram-less docs are totalized by the all_ids spine
    # below; explode_outer's NULL-gram rows would only flow dead weight
    # through the hash + semi-join probe
    grams = docs.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    bset = benchmark_grams(bench, text_col=text_col, n=n)
    if hashed:
        grams = grams.withColumn("_k", F.xxhash64("gram"))
        bset = bset.select(F.xxhash64("gram").alias("_k")).distinct()
        joined = grams.join(F.broadcast(bset), "_k", "left_semi")
    else:
        joined = grams.join(F.broadcast(bset), "gram", "left_semi")
    hits = (joined.groupBy(id_col)
            .agg(F.countDistinct("gram").alias("n_shared_grams")))
    all_ids = docs.select(id_col).distinct()
    return (all_ids.join(hits, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
                (F.coalesce("n_shared_grams", F.lit(0)) > 0
                 ).alias("contaminated")))


def contamination_report_fused(docs: DataFrame, bench: DataFrame, *,
                               id_col: str = "doc_id",
                               text_col: str = "text",
                               n: int = 8, total: bool = True) -> DataFrame:
    """One-pass production form: exact (string-key) AND hashed
    (xxhash64-key) contamination counts from a SINGLE corpus gram
    explode and a SINGLE broadcast join.

    Returns (id_col, n_shared_grams, contaminated, hash_agrees) for
    every doc — ``n_shared_grams`` is the exact count, ``hash_agrees``
    states the hash path found the same count. Equivalent to running
    :func:`contamination_report` twice (differential-tested) at half
    the work: the corpus grams come from the vectorized kernel
    (:func:`word_ngram_pairs_vec`), hash keys are added post-explode by
    codegen, and both counts fall out of one aggregate — a corpus gram
    string-matches iff it hash-matches some bench gram, plus possible
    extra hash-only matches under collision (exact ⊆ hashed, so
    agreement == no collision affected the verdict).

    ``total=False`` skips the all-ids spine (a second corpus scan +
    distinct whose only purpose is emitting 0-count rows) and returns
    only docs with at least one hash match — the right call for
    keep/drop consumers that filter to ``contaminated`` anyway.
    """
    grams = word_ngram_pairs_vec(docs, id_col=id_col, text_col=text_col,
                                 n=n)
    bset = (word_ngram_pairs_vec(
                bench.select(F.monotonically_increasing_id().alias("_bid"),
                             F.col(text_col)),
                id_col="_bid", text_col=text_col, n=n)
            .select(F.col("gram").alias("_bgram")).distinct()
            .withColumn("_k", F.xxhash64("_bgram")))
    joined = (grams.withColumn("_k", F.xxhash64("gram"))
              .join(F.broadcast(bset), "_k", "inner"))
    hits = (joined.groupBy(id_col).agg(
        F.countDistinct(F.when(F.col("gram") == F.col("_bgram"),
                               F.col("gram"))).alias("_n_exact"),
        F.countDistinct("gram").alias("_n_hash")))
    if not total:
        return hits.select(
            id_col,
            F.col("_n_exact").alias("n_shared_grams"),
            (F.col("_n_exact") > 0).alias("contaminated"),
            (F.col("_n_exact") == F.col("_n_hash")).alias("hash_agrees"))
    all_ids = docs.select(id_col).distinct()
    return (all_ids.join(hits, id_col, "left")
            .select(
                id_col,
                F.coalesce("_n_exact", F.lit(0)).alias("n_shared_grams"),
                (F.coalesce("_n_exact", F.lit(0)) > 0).alias("contaminated"),
                (F.coalesce("_n_exact", F.lit(0))
                 == F.coalesce("_n_hash", F.lit(0))).alias("hash_agrees")))


def contamination_report_sql(*, docs_sql: str, bench_sql: str,
                             id_col: str = "doc_id", text_col: str = "text",
                             n: int = 8) -> str:
    """DuckDB twin of the exact (string-key) contamination report."""
    return f"""
WITH d AS ({docs_sql}), b AS ({bench_sql}),
bset AS (
  SELECT DISTINCT unnest({word_ngrams_sql(text_col, n)}) AS gram FROM b
),
dgrams AS (
  SELECT {id_col}, unnest({word_ngrams_sql(text_col, n)}) AS gram FROM d
),
hits AS (
  SELECT {id_col}, count(DISTINCT gram) AS n_shared_grams
  FROM dgrams WHERE gram IN (SELECT gram FROM bset)
  GROUP BY {id_col}
)
SELECT d.{id_col},
       COALESCE(hits.n_shared_grams, 0) AS n_shared_grams,
       COALESCE(hits.n_shared_grams, 0) > 0 AS contaminated
FROM (SELECT DISTINCT {id_col} FROM d) d
LEFT JOIN hits ON d.{id_col} = hits.{id_col}
"""
