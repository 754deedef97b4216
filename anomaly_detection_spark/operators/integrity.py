"""Uniqueness and referential-integrity checks. They keep the intent of
the north rule's uniqueness and referential clause, not its wording (see
COVERAGE.md): no hot key lands on one reducer and no dim side is moved
whole when it does not fit, through Spark's own planning instead of a
salt and a hand-built pre-filter.

The reference has no joins or group-bys at all (SURVEY.md §2.6); these are
the new engine's set-level constraints, built scale-first:

* uniqueness: one hash aggregate whose map-side partial count collapses a
  hot composite key before the shuffle, so it cannot overwhelm one
  reducer (measured faster than a two-level salted aggregate, for hot
  and for near-unique keys); violation rows recovered with a broadcast
  semi-join of the (small) duplicated-key set back onto the table.
* referential: one exact ``left_anti`` join against the distinct dim
  keys, with no join hint. AQE broadcasts a dim that fits under
  ``spark.sql.autoBroadcastJoinThreshold`` and plans a sort-merge
  anti-join for a larger one. Spark's runtime bloom pruning
  (spark.sql.optimizer.runtime.bloomFilter.enabled, set in
  ``session.get_spark``) stays on for the joins it can prune.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    left_anti; AQE picks a broadcast or a sort-merge join from the dim
    side's size. NULL keys are violations too (no match possible),
    matching SQL anti-join semantics."""
    return fact.join(
        dim.select(F.col(dim_key).alias(fact_key)).distinct(),
        on=fact_key,
        how="left_anti",
    )
