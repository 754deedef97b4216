"""Deterministic sampling and token-budget mixture weighting for
training-data pipelines.

A large-scale pretraining corpus is never used whole: each domain/language
slice is sampled to hit a per-slice TOKEN budget (the public data-mixture
recipe from GPT-3 / Gopher / LLaMA: weights are fractions of the token
budget, not of the document count). Two properties matter at 100 TB:

* **Determinism** — the sample must be a pure function of (key, seed) so
  a re-run, a resumed run, and the oracle all pick the identical rows.
  ``rand()`` is out (per-task RNG state); a hash of the row key is the
  public, standard answer (Knuth multiplicative hashing / the
  hash-mod-bucket split every dedup-safe holdout uses).
* **No second scan per slice** — rates are derived from ONE tiny
  aggregate (per-slice token totals, a few rows), broadcast back onto
  the corpus scan, and applied as a plain filter. The corpus is read
  once, filtered in the scan stage, never shuffled.

The hash is deliberately expressible in PORTABLE integer SQL (exact in
both Spark and DuckDB, unlike xxhash64 which only Spark has), so the
driver oracle replays the sample bit-for-bit:

    u(key, seed) = (((key mod 2^32) XOR (key >> 32) XOR s) * 1597334677)
                   mod 2^32 / 2^32
    where s = (seed * 1597334677) mod 2^32  (a Python-side constant)
    and >> is the arithmetic (sign-extending) shift

1597334677 is the public 32-bit Knuth/Fibonacci multiplier (2^32/phi,
odd). Folding the key to its low half and XOR-ing in its high half keeps
every intermediate within +-2^32 before the multiply, so the arithmetic
is exact BIGINT in any engine (max 2^32*1597334677 ~= 6.86e18 <
9.22e18), and keys that differ by a multiple of 2^32 still hash apart.
For keys in [0, 2^32) the high half is 0. The seed is XOR-mixed into the
key BEFORE the multiply — adding it after would shift every hash by a
constant, so adjacent seeds would select near-identical samples (caught by
test_deterministic_sample_is_stable_and_seeded); flipping input bits
instead scrambles the product's high bits, which is where the unit
value comes from (division by 2^32 keeps the high bits — exactly where
Fibonacci hashing mixes well, Knuth TAOCP vol. 3 §6.4).

Reference parity note: the reference engine has no sampler; this module
is part of the beyond-reference LLM-pipeline surface (SURVEY.md §2 the
"training-data pipeline" block), same family as functions/dedup.py and
functions/curation.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KNUTH32 = 1597334677  # public 32-bit Fibonacci multiplier (odd, ~2^32/phi)
_M32 = 4294967296     # 2^32


def hash_unit(key: Column, seed: int = 0) -> Column:
    """Deterministic uniform-ish unit value in [0, 1) from a BIGINT key.

    Exact integer arithmetic (no overflow for any bigint key, see module
    docstring); the same formula in ANSI SQL is :func:`hash_unit_sql`.
    """
    s = (int(seed) * KNUTH32) % _M32
    key = key.cast("bigint")
    k = (F.pmod(key, F.lit(_M32)).bitwiseXOR(F.shiftright(key, 32))
         .bitwiseXOR(F.lit(s)))
    h = F.pmod(k * F.lit(KNUTH32), F.lit(_M32))
    return (h / F.lit(float(_M32))).cast("double")


def hash_unit_sql(key: str, seed: int = 0) -> str:
    """DuckDB/ANSI twin of :func:`hash_unit`. SQL ``%`` keeps the sign
    of the dividend while Spark's ``pmod`` is always non-negative, so
    both mods are wrapped ``((x % m) + m) % m`` — negative keys hash
    identically in both engines (no non-negativity assumption at the
    deterministic_sample / split entry points)."""
    s = (int(seed) * KNUTH32) % _M32
    key = f"CAST({key} AS BIGINT)"
    k = f"xor((({key} % {_M32}) + {_M32}) % {_M32}, {key} >> 32)"
    h = f"(((xor({k}, {s}) * {KNUTH32}) % {_M32}) + {_M32}) % {_M32}"
    return f"({h}) / {float(_M32)}"


def deterministic_sample(df: DataFrame, key_col: str, rate: Column | float,
                         *, seed: int = 0) -> DataFrame:
    """Keep rows whose hash-unit falls below ``rate`` — a pure filter on
    the scan (predicate is a codegen'd integer expression; at 100 TB the
    sample never shuffles and re-runs reproduce the identical row set).
    """
    r = rate if isinstance(rate, Column) else F.lit(float(rate))
    return df.filter(hash_unit(F.col(key_col), seed) < r)


def budget_mixture(docs: DataFrame, budgets: dict[str, float], *,
                   key_col: str = "doc_id", stratum_col: str = "lang",
                   token_col: Column | None = None,
                   seed: int = 0) -> DataFrame:
    """Token-budget mixture sampling: per-stratum keep rates derived from
    per-stratum token budgets, applied as one deterministic filter.

    ``budgets`` maps stratum value -> target token count. Rate for a
    stratum is ``min(1, budget / total_tokens_in_stratum)``; strata
    absent from ``budgets`` are dropped (rate 0). Returns the sampled
    rows with the computed ``_rate`` and token count attached.

    Plan shape (the part that must survive 100 TB): pass 1 is a
    map-side-combined groupBy on the stratum (shuffle carries one row
    per stratum per task); the resulting few-row rate table is broadcast
    back onto the second corpus scan, so the corpus itself is filtered
    in place and never exchanged. Token counting is the same
    whitespace-token expression the quality suite uses (codegen'd).
    """
    from anomaly_detection_spark.functions.text import ws_token_count
    from anomaly_detection_spark.session import local_frame

    tok = token_col if token_col is not None else ws_token_count(F.col("text"))
    with_tok = docs.withColumn("_tokens", tok.cast("bigint"))
    totals = (with_tok.groupBy(stratum_col)
              .agg(F.sum("_tokens").alias("_total_tokens")))
    budget_rows = [(k, float(v)) for k, v in sorted(budgets.items())]
    bdf = local_frame(
        docs.sparkSession, budget_rows, f"{stratum_col} string, _budget double")
    rates = (totals.join(F.broadcast(bdf), stratum_col, "inner")
             .withColumn("_rate", F.least(
                 F.lit(1.0),
                 F.col("_budget") / F.col("_total_tokens"))))
    return (with_tok
            .join(F.broadcast(rates), stratum_col, "inner")
            .filter(hash_unit(F.col(key_col), seed) < F.col("_rate")))


def split_label(component: Column, splits: list[tuple[str, float]], *,
                seed: int = 0) -> Column:
    """Split name for a component label: cascaded hash-unit thresholds
    (cumulative fractions accumulated in PYTHON so the Spark side and
    the SQL twin compare against bit-identical double literals; the
    hash itself is exact integer arithmetic, so assignment is
    engine-deterministic — no boundary ulp risk)."""
    u = hash_unit(component, seed)
    col, acc = None, 0.0
    for name, frac in splits[:-1]:
        acc += float(frac)
        cond = u < F.lit(acc)
        col = F.when(cond, name) if col is None else col.when(cond, name)
    last = splits[-1][0]
    return col.otherwise(last) if col is not None else F.lit(last)


def split_label_sql(component_col: str, splits: list[tuple[str, float]], *,
                    seed: int = 0) -> str:
    """DuckDB twin of :func:`split_label` (same Python-accumulated
    boundary literals, repr round-trips the exact double)."""
    u = hash_unit_sql(component_col, seed)
    whens, acc = [], 0.0
    for name, frac in splits[:-1]:
        acc += float(frac)
        whens.append(f"WHEN ({u}) < {acc!r} THEN '{name}'")
    if not whens:
        return f"'{splits[-1][0]}'"
    return f"CASE {' '.join(whens)} ELSE '{splits[-1][0]}' END"


def dedup_safe_split(docs: DataFrame, pairs: DataFrame, *,
                     id_col: str = "doc_id",
                     splits: list[tuple[str, float]] | None = None,
                     seed: int = 0, id_a: str = "id_a",
                     id_b: str = "id_b") -> DataFrame:
    """Leakage-free train/val/test split: near-duplicate documents MUST
    share a split, or held-out evaluation is contaminated by training
    twins (the public dedup-safe holdout recipe — GPT-3 appx C's
    eval-overlap concern applied to split construction). Achieved by
    splitting on the near-dup COMPONENT label, not the doc id: pair
    edges -> connected components (min-label propagation,
    dedup.resolve_components), singletons keep their own id as the
    component, and the split is a pure hash of the component — so
    every member of a clique lands together, deterministically,
    resumable, oracle-replayable.

    Returns the input rows + (component, split).

    Plan shape at 100 TB: the component frame is O(docs-in-pairs) — a
    vanishing fraction of the corpus — so the label join back is a
    narrow broadcast-or-shuffle of (id, component) onto the scan;
    the corpus text never shuffles; the split column is a codegen'd
    integer-hash expression.
    """
    from anomaly_detection_spark.functions.dedup import resolve_components

    if splits is None:
        splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    comp = resolve_components(pairs, id_a=id_a, id_b=id_b) \
        .withColumnRenamed("id", id_col)
    return (docs.join(comp, id_col, "left")
            .withColumn("component",
                        F.coalesce("component", F.col(id_col)))
            .withColumn("split", split_label(F.col("component"), splits,
                                             seed=seed)))


def split_leakage(labeled: DataFrame, *,
                  component_col: str = "component",
                  split_col: str = "split") -> DataFrame:
    """Violation report for a split assignment: components that span
    more than one split (MUST be empty for a dedup-safe split — by
    construction it is when the split is a function of the component;
    this is the independent check for splits produced elsewhere).
    One map-side-combined aggregate on narrow (component, split) rows.
    """
    return (labeled.groupBy(component_col)
            .agg(F.countDistinct(split_col).alias("n_splits"))
            .filter(F.col("n_splits") > 1))


def budget_mixture_sql(budgets: dict[str, float], *, table: str = "documents",
                       key_col: str = "doc_id", stratum_col: str = "lang",
                       token_sql: str | None = None, seed: int = 0) -> str:
    """DuckDB twin of :func:`budget_mixture` (sampled rows, same cols)."""
    from anomaly_detection_spark.functions.text import ws_token_count_sql

    tok = token_sql or ws_token_count_sql("text")
    vals = ", ".join("('" + k.replace("'", "''") + f"', {float(v)})"
                     for k, v in sorted(budgets.items()))
    return f"""
WITH tok AS (
  SELECT *, CAST({tok} AS BIGINT) AS _tokens FROM {table}
), budgets(_{stratum_col}, _budget) AS (VALUES {vals}),
rates AS (
  SELECT t.{stratum_col}, b._budget,
         least(1.0, b._budget / sum(t._tokens)) AS _rate,
         sum(t._tokens) AS _total_tokens
  FROM tok t JOIN budgets b ON t.{stratum_col} = b._{stratum_col}
  GROUP BY t.{stratum_col}, b._budget
)
SELECT tok.*, rates._rate
FROM tok JOIN rates USING ({stratum_col})
WHERE {hash_unit_sql(f"tok.{key_col}", seed)} < rates._rate
"""
