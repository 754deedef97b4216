"""Uniqueness and referential-integrity checks (north rule: "uniqueness and
referential checks via salted hash-aggregate + broadcast Bloom filters";
the uniqueness half keeps its intent, no hot key on one reducer, through
map-side partial aggregation instead of a salt).

The reference has no joins or group-bys at all (SURVEY.md §2.6); these are
the new engine's set-level constraints, built scale-first:

* uniqueness: one hash aggregate whose map-side partial count collapses a
  hot composite key before the shuffle, so it cannot overwhelm one
  reducer (measured faster than a two-level salted aggregate, for hot
  and for near-unique keys); violation rows recovered with a broadcast
  semi-join of the (small) duplicated-key set back onto the table.
* referential: exact check is a broadcast ``left_anti`` join against the
  dim side; at 100 TB with a large dim side, a broadcast Bloom filter
  (built in executors via mapInPandas partials, OR-merged on the driver)
  pre-filters the fact side so the exact join touches only candidate
  violations. Spark's own runtime bloom pruning
  (spark.sql.optimizer.runtime.bloomFilter.enabled) stays on as well.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomaly_detection_spark.sketches import BloomFilter


# ---------------------------------------------------------------------------
# Uniqueness
# ---------------------------------------------------------------------------

def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keys appearing more than once -> (keys..., dup_count).

    One hash aggregate, one exchange. Its map-side partial count
    collapses a hot key to one row per input partition before the
    shuffle, so no reducer sees more than that however hot the key is.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def uniqueness_violations(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """All rows whose key occurs more than once (every copy is returned,
    mirroring the reference's per-record verdicts: each offending record is
    flagged). The duplicated-key set is tiny relative to the table, so the
    recovery join is broadcast."""
    keys = list(keys)
    dups = duplicate_keys(df, keys).select(*keys)
    cond = None
    for k in keys:
        c = df[k].eqNullSafe(dups[k])
        cond = c if cond is None else cond & c
    return df.join(F.broadcast(dups), on=cond, how="left_semi")


# ---------------------------------------------------------------------------
# Referential
# ---------------------------------------------------------------------------

def referential_violations(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str
) -> DataFrame:
    """Rows of ``fact`` whose key has no match in ``dim`` — exact, via
    broadcast left_anti (dim side is the small side by construction of a
    referential target). NULL keys are violations too (no match possible),
    matching SQL anti-join semantics."""
    return fact.join(
        F.broadcast(dim.select(F.col(dim_key).alias(fact_key)).distinct()),
        on=fact_key,
        how="left_anti",
    )


def build_bloom(
    df: DataFrame, key: str, *, expected_items: int | None = None,
    fpp: float = 0.01,
) -> BloomFilter:
    """Build a Bloom filter of ``df[key]`` distributed: each executor folds
    its Arrow batches into a local bitset (vectorized double hashing), one
    partial bitset row per partition, OR-merged on the driver. Driver traffic
    is O(partitions x filter_size), independent of row count.

    Size bound: at fpp=0.01 the bitset is ~1.2 GB per 1e9 distinct keys,
    which also becomes the broadcast size — beyond ~1e9 keys raise fpp
    (the final answer stays exact; fpp only widens the verify set) or
    fall back to the plain shuffled anti-join."""
    if expected_items is None:
        # row count upper-bounds distinct count and, for parquet, comes
        # from footer statistics — no data scan (vs approx_count_distinct
        # which reads the column); oversizing a Bloom only lowers its fpp
        expected_items = df.count() or 1
    proto = BloomFilter.sized_for(int(expected_items), fpp)
    m_bits, k = proto.m_bits, proto.k

    def partials(batches):
        bf = BloomFilter(m_bits, k)
        seen = False
        for pdf in batches:
            vals = pdf[key].dropna()
            if len(vals):
                bf.add_batch(vals.to_numpy())
                seen = True
        if seen:
            yield pd.DataFrame({"bits": [bf.to_bytes()]})

    rows = df.select(key).mapInPandas(partials, schema="bits binary").collect()
    merged = BloomFilter(m_bits, k)
    for r in rows:
        merged = merged.merge(BloomFilter.from_bytes(m_bits, k, r["bits"]))
    return merged


def referential_violations_bloom(
    spark: SparkSession, fact: DataFrame, fact_key: str,
    dim: DataFrame, dim_key: str, *, fpp: float = 0.01,
) -> DataFrame:
    """Bloom-accelerated referential check for a dim side too large to
    broadcast whole: (1) build + broadcast the Bloom of dim keys,
    (2) pre-filter fact rows to bloom-misses (definite violations) and
    bloom-hits that must be verified, (3) exact left_anti only on the
    small candidate set. False-positive rate only affects how much survives
    to step 3 — the final answer is exact."""
    bloom = build_bloom(dim, dim_key, fpp=fpp)
    bc = spark.sparkContext.broadcast((bloom.m_bits, bloom.k, bloom.to_bytes()))
    key = fact_key

    # Membership tests run over DISTINCT fact keys only — the Python/Arrow
    # boundary never sees fact rows or non-key columns. NULL keys are
    # definite violations (no match possible) and skip the bloom entirely.
    def miss_flag(batches):
        m_bits, k, raw = bc.value
        bf = BloomFilter.from_bytes(m_bits, k, raw)
        for pdf in batches:
            vals = pdf[key]
            out = pdf.copy()
            out["_bloom_hit"] = bf.contains_batch(vals.to_numpy())
            yield out

    keys_df = fact.select(key).filter(F.col(key).isNotNull()).distinct()
    flagged = keys_df.mapInPandas(
        miss_flag,
        schema=f"`{key}` {fact.schema[key].dataType.simpleString()}, "
               "_bloom_hit boolean",
    )
    miss_keys = flagged.filter(~F.col("_bloom_hit")).drop("_bloom_hit")
    hit_keys = flagged.filter(F.col("_bloom_hit")).drop("_bloom_hit")
    # bloom false positives resolved exactly on the (small) hit-key set
    fp_keys = hit_keys.join(
        dim.select(F.col(dim_key).alias(key)).distinct(),
        on=key, how="left_anti",
    )
    bad_keys = miss_keys.unionByName(fp_keys)
    null_rows = fact.filter(F.col(key).isNull())
    return fact.join(F.broadcast(bad_keys), on=key, how="left_semi") \
               .unionByName(null_rows)
