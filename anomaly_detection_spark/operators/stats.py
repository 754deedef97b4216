"""Per-partition / per-group column statistics — the engine's core profiling
primitive.

One native Catalyst path per capability, no Python stage:

* :func:`column_profile` — count / nulls / mean / stddev / var / min / max
  as one hash aggregate. Spark's central-moment aggregates keep a
  ``(n, avg, m2)`` buffer per group and merge the map-side partials with
  Chan's parallel update, so this is the mergeable per-partition Welford
  profile, computed in codegen'd JVM code. Map-side partial aggregation
  also spreads a hot key over every input task, which is why no salted
  variant is needed.
* :func:`hll_distinct` — Datasketches HLL (``hll_sketch_agg``, lgConfigK
  12, about 1.6 % relative standard error) per group. The serialized
  sketch is returned beside the estimate, so partial sketches can be
  stored and merged later with ``hll_union_agg``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_profile(df: DataFrame, value: str,
                   keys: Sequence[str] = ()) -> DataFrame:
    """One stats row per group: n (all rows), n_null, mean, stddev_samp,
    var_pop, min, max of ``value``; one row in all when ``keys`` is
    empty."""
    keys = list(keys)
    v = F.col(value)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("n_null"),
        F.avg(v).alias("mean"),
        F.stddev_samp(v).alias("stddev_samp"),
        F.var_pop(v).alias("var_pop"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    ]
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


# valbench's corpus_validate workload calls stats.welford_profile(df, col);
# the benchmark's files are fixed, so the old name stays as an alias.
welford_profile = column_profile


def hll_distinct(df: DataFrame, col: str, key: str | None = None) -> DataFrame:
    """Approximate distinct count of ``col`` (int, bigint, string or
    binary: the types ``hll_sketch_agg`` hashes) per ``key``; one row for
    the whole frame, with part_key '', when ``key`` is None. Returns
    (part_key, n_distinct_approx, sketch); nulls are not counted."""
    part_key = F.col(key).cast("string") if key is not None else F.lit("")
    return (
        df.groupBy(part_key.alias("part_key"))
        .agg(F.hll_sketch_agg(col).alias("sketch"))
        .select("part_key",
                F.hll_sketch_estimate("sketch").cast("double")
                .alias("n_distinct_approx"),
                "sketch")
    )
