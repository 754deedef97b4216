"""Corpus vocabulary statistics: word counts, document frequency, IDF,
top-K terms — the prerequisite pass for tokenizer training (BPE/unigram
corpus counts), stop-word discovery (terms in >X% of docs), and TF-IDF
style quality features over a pretraining corpus.

Scale shape (the part that must survive 100 TB):

* ONE explode of the corpus into (doc, word) inside the scan; the
  per-word aggregate is one mixed count/count-distinct ``groupBy`` —
  Catalyst's distinct rewrite dedups (word, doc) in the map-side
  partial aggregate, so the exchange carries distinct pairs plus
  per-word count partials, never raw occurrences; the corpus text
  itself never moves.
* top-K is ``orderBy(...).limit(k)`` — Catalyst plans
  TakeOrderedAndProject, the two-level per-partition-then-global
  heap top-k; no full sort materializes.
* ties break deterministically on the term string ascending, so the
  report is engine-stable and oracle-replayable.

Tokenization is the shared JVM-exact split (text.JAVA_WS_RE) plus
ASCII-only case folding (text.ascii_lower — full Unicode lower() is
engine-dependent), identical in the Spark expressions, the pandas
kernels elsewhere, and the DuckDB oracles.

Reference parity note: the reference engine has no corpus-statistics
surface; this extends the training-data-pipeline block (SURVEY.md §2
"beyond the reference") alongside functions/text.py and sampling.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.functions.text import (
    JAVA_WS_RE, ascii_lower, ascii_lower_sql,
)


def word_stats(docs: DataFrame, *, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Per-word corpus statistics: (word, count, doc_freq).

    ``count`` is total occurrences; ``doc_freq`` is the number of
    distinct docs containing the word. One explode inside the scan,
    one mixed count/count-distinct aggregate: Catalyst's distinct
    rewrite dedups (word, doc) in the MAP-SIDE partial aggregate, so
    the exchange carries distinct pairs plus per-word count partials,
    never raw occurrences — all JVM, fully codegen (the empty-token
    filter runs as a ROW filter after the explode, not an interpreted
    array-HOF lambda; PLANS.md lesson 1). Case folding is ASCII-only
    (text.ascii_lower) so word keys are engine-identical.
    """
    words = F.split(
        F.trim(ascii_lower(F.coalesce(F.col(text_col), F.lit("")))),
        JAVA_WS_RE)
    occ = (docs.select(F.col(id_col), F.explode(words).alias("word"))
           .filter(F.col("word") != ""))
    return (occ.groupBy("word")
            .agg(F.count("*").alias("count"),
                 F.countDistinct(id_col).alias("doc_freq")))


def vocab_topk(docs: DataFrame, k: int, *, id_col: str = "doc_id",
               text_col: str = "text",
               n_docs: int | None = None) -> DataFrame:
    """Top-``k`` corpus terms by total count (ties broken on the term
    ascending) with document frequency and smoothed IDF
    ``ln((1 + N) / (1 + df)) + 1`` (the standard smoothed formulation).

    ``n_docs`` defaults to the number of distinct ids, the same unit as
    ``doc_freq`` (at scale pass the known document count to skip that
    job).
    """
    stats = word_stats(docs, id_col=id_col, text_col=text_col)
    if n_docs is None:
        n_docs = docs.select(id_col).distinct().count()
    return (stats
            .orderBy(F.col("count").desc(), F.col("word").asc())
            .limit(k)
            .select(
                "word", "count", "doc_freq",
                (F.log((1.0 + float(n_docs))
                       / (1.0 + F.col("doc_freq"))) + 1.0).alias("idf")))


def stopword_candidates(docs: DataFrame, *, max_doc_frac: float = 0.5,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        n_docs: int | None = None) -> DataFrame:
    """Terms present in more than ``max_doc_frac`` of documents — the
    corpus-derived stop-word list (drop-from-index / quality-feature
    denominator candidates). Same single aggregate as word_stats plus a
    scalar threshold filter. ``n_docs`` defaults to the number of
    distinct ids, as in :func:`vocab_topk`."""
    if n_docs is None:
        n_docs = docs.select(id_col).distinct().count()
    return (word_stats(docs, id_col=id_col, text_col=text_col)
            .filter(F.col("doc_freq") > float(max_doc_frac) * float(n_docs)))


def word_stats_sql(*, docs_sql: str, id_col: str = "doc_id",
                   text_col: str = "text") -> str:
    """DuckDB twin of :func:`word_stats` (semantic form: distinct
    (doc, word) pairs with per-doc counts, then the global aggregate)."""
    low = ascii_lower_sql(f"coalesce({text_col}, '')")
    words = (f"list_filter(string_split_regex(trim({low}), "
             f"'{JAVA_WS_RE}'), w -> w <> '')")
    return f"""
WITH d AS ({docs_sql}),
occ AS (
  SELECT {id_col}, unnest({words}) AS word FROM d
),
per_doc AS (
  SELECT {id_col}, word, count(*) AS tf FROM occ GROUP BY 1, 2
)
SELECT word, CAST(sum(tf) AS BIGINT) AS count,
       CAST(count(*) AS BIGINT) AS doc_freq
FROM per_doc GROUP BY word
"""
