"""Distribution-drift checks: PSI and two-sample KS over slices of a
column, with the reference's windowed EMA/z-score verdict semantics.

The reference detects drift per record (EMA band, Welford z-score); the
engine detects it per *slice* of a table: compare a slice's distribution
against a baseline slice and border-check the divergence statistic with the
same warning-ladder semantics (codes 1/0/-1).

Everything heavy is a native aggregate; no stage runs Python:
  * PSI — binned histograms via a Catalyst width-bucket expression +
    hash aggregate; only the (n_bins) counts reach the PSI formula, which
    itself runs inside a tiny DataFrame, not on the driver.
  * categorical PSI — groupBy(lang) frequencies, full outer join of the
    two slices' frequency tables.
  * KS (:func:`ks_check`) — one aggregate builds a Datasketches KLL sketch
    (``kll_sketch_agg_double``, k = 200) of each slice. KLL has a proven
    rank-error bound: about 1.3 % single-sided at k = 200, so the KS
    estimate is within eps_a + eps_b + one rank-grid step (1/200) of the
    exact statistic. :func:`ks_exact` is the exact verification path.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.codes import ladder_code

EPS = 1e-6  # PSI zero-bin smoothing (standard practice)


def _bucket(value: Column, lo: float, hi: float, n_bins: int) -> Column:
    """width_bucket with clamped outer bins: bin 0 .. n_bins-1."""
    w = (hi - lo) / n_bins
    raw = F.floor((value - F.lit(lo)) / F.lit(w)).cast("int")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))


def histogram(df: DataFrame, value: str, lo: float, hi: float,
              n_bins: int) -> DataFrame:
    """(bin, cnt) hash-aggregate histogram — one shuffle of n_bins rows."""
    return (
        df.select(_bucket(F.col(value).cast("double"), lo, hi, n_bins).alias("bin"))
        .where(F.col("bin").isNotNull())
        .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    )


def psi_numeric(
    base: DataFrame, cur: DataFrame, value: str, *,
    lo: float, hi: float, n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between two slices of a numeric column:
    PSI = sum_b (p_b - q_b) * ln(p_b / q_b) over fixed equi-width bins.
    Returns a 1-row DataFrame (psi double)."""
    hb = histogram(base, value, lo, hi, n_bins).withColumnRenamed("cnt", "cb")
    hc = histogram(cur, value, lo, hi, n_bins).withColumnRenamed("cnt", "cc")
    joined = hb.join(hc, "bin", "full_outer").fillna(0, subset=["cb", "cc"])
    return _psi_of_counts(joined)


def _psi_of_counts(joined: DataFrame) -> DataFrame:
    """(cb, cc) count rows -> 1-row (psi double). ONE aggregation: the
    totals and the per-bin terms come out of the same collect, so the
    upstream scans run once and no unpartitioned window is planned (the
    previous `sum().over(Window.partitionBy())` form was scale-safe —
    the input is an already-aggregated n_bins/category-count frame —
    but emitted a WARN WindowExec wall per run; a HOF over the <=
    few-hundred collected structs is not a per-row hot path)."""
    packed = joined.agg(
        F.sum("cb").alias("tb"), F.sum("cc").alias("tc"),
        F.collect_list(F.struct(F.col("cb"), F.col("cc"))).alias("bs"))
    p = lambda s: F.greatest(s["cb"] / F.col("tb"), F.lit(EPS))
    q = lambda s: F.greatest(s["cc"] / F.col("tc"), F.lit(EPS))
    return packed.select(
        F.aggregate(
            F.col("bs"), F.lit(0.0),
            lambda acc, s: acc + (p(s) - q(s)) * F.log(p(s) / q(s)),
        ).alias("psi")
    )


def psi_categorical(base: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """PSI over a categorical column's frequency table (e.g. lang mix
    shift). Full-outer join of the two frequency tables; unseen categories
    smoothed with EPS."""
    fb = base.groupBy(F.col(col).alias("cat")).agg(F.count(F.lit(1)).alias("cb"))
    fc = cur.groupBy(F.col(col).alias("cat")).agg(F.count(F.lit(1)).alias("cc"))
    joined = fb.join(fc, "cat", "full_outer").fillna(0, subset=["cb", "cc"])
    return _psi_of_counts(joined)


# ---------------------------------------------------------------------------
# two-sample KS: KLL sketches (ks_check) and the exact verification path
# ---------------------------------------------------------------------------

KS_RANK_GRID = 200  # grid step 0.005, under half of KLL k=200's rank error


def _tagged(base: DataFrame, cur: DataFrame, value: str) -> DataFrame:
    """One frame of both samples: ``v`` (double), ``s`` (1 = base, 0 = cur)."""
    return (base.select(F.col(value).cast("double").alias("v"), F.lit(1).alias("s"))
            .unionByName(cur.select(F.col(value).cast("double").alias("v"),
                                    F.lit(0).alias("s"))))


def ks_sketches(base: DataFrame, cur: DataFrame, value: str) -> DataFrame:
    """One aggregate over the side-tagged union: a 1-row frame of the two
    samples' KLL sketches (``a`` base, ``b`` cur) and non-null counts."""
    t = _tagged(base, cur, value)
    side = lambda s: F.when(F.col("s") == s, F.col("v"))
    return t.agg(
        F.kll_sketch_agg_double(side(1)).alias("a"),
        F.kll_sketch_agg_double(side(0)).alias("b"),
        F.count(side(1)).alias("na"), F.count(side(0)).alias("nb"),
    )


def ks_check(
    base: DataFrame, cur: DataFrame, value: str, *,
    UL: float = 0.2, LL: float | None = None,
    warning_stages: Sequence[float] = (0.5,),
):
    """KS drift verdict with the reference's border-ladder semantics applied
    to the KS statistic; returns (ks, code). KS is one-sided (0 is
    perfect), so the default band is symmetric (LL = -UL): vn = ks/UL and
    only the upper ladder can fire.

    KS = max |rank_a(x) - rank_b(x)| over x in the union of both sketches'
    quantiles at a fixed rank grid. Between adjacent points of that union
    neither true CDF moves by more than one grid step, so the error is at
    most eps_a + eps_b + 1/KS_RANK_GRID. ``kll_sketch_get_*`` accept only
    foldable rank/quantile arguments, so the two collected sketches (a
    few KB) are evaluated on a one-row local frame."""
    if LL is None:
        LL = -UL
    sk = ks_sketches(base, cur, value).first()
    if sk["na"] == 0 or sk["nb"] == 0:
        ks = float("nan")
    else:
        # built from pandas (Arrow): a local relation, so the two selects
        # below are evaluated in the driver without launching a job
        one = base.sparkSession.createDataFrame(
            pd.DataFrame({"a": [sk["a"]], "b": [sk["b"]]}))
        grid = F.lit([i / KS_RANK_GRID for i in range(KS_RANK_GRID + 1)])
        q = one.select(F.kll_sketch_get_quantile_double("a", grid),
                       F.kll_sketch_get_quantile_double("b", grid)).first()
        xs = F.lit(sorted(set(q[0]) | set(q[1])))
        r = one.select(F.kll_sketch_get_rank_double("a", xs),
                       F.kll_sketch_get_rank_double("b", xs)).first()
        ks = float(max(abs(ra - rb) for ra, rb in zip(r[0], r[1])))
    vn = 2.0 * (ks - (UL + LL) / 2.0) / (UL - LL)
    stages = sorted(warning_stages)
    if vn > 1.0 or vn < -1.0:
        code = -1
    elif stages and abs(vn) > stages[0]:
        code = 0
    else:
        code = 1
    return ks, code


def ks_exact(base: DataFrame, cur: DataFrame, value: str, *,
             n_range_partitions: int | None = None) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic, distributed — the
    verification path for :func:`ks_check`'s KLL approximation.
    Generic two-frame API; callers that can tag sides in one scan should
    use :func:`ks_exact_tagged` (halves the input scans)."""
    return ks_exact_tagged(_tagged(base, cur, value),
                           n_range_partitions=n_range_partitions)


def ks_exact_tagged(tagged: DataFrame, *,
                    n_range_partitions: int | None = None) -> DataFrame:
    """Exact two-sample KS over a pre-tagged frame with columns
    ``v`` (double) and ``s`` (1 = base sample, 0 = current sample).

    sup|F_a - F_b| is attained at a sample point, so: (1) aggregate both
    samples to per-distinct-value side counts (one hash shuffle, output
    size = #distinct values); (2) range-partition + sort by value; the
    per-partition totals are collected once (P tiny rows) and turned into
    exclusive prefix offsets; (3) a JVM-side window per range partition
    (partitionBy(pid) ORDER BY v — pid is already the data's physical
    partitioning, so the exchange moves O(#distinct) tiny rows) adds the
    literal offset map and the global max of |cumA/nA - cumB/nB| is a
    plain max aggregate. No global single-task sort anywhere, and no
    Python worker round-trip in the hot path (measured: the former
    mapInPandas final pass cost ~0.3s fixed per query at sf0.1; the
    codegen'd window form runs the same job in ~0.1s — PLANS.md round-4).
    Returns a 1-row DataFrame (ks double)."""
    import itertools

    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    spark = tagged.sparkSession
    d = (
        tagged.filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.sum("s").alias("db"), F.sum(1 - F.col("s")).alias("dc"))
    )
    P = n_range_partitions or spark.sparkContext.defaultParallelism
    # persist the range-partitioned frame: the totals job and the final job
    # must observe the SAME sampled range boundaries. Scoped with
    # try/finally (the result is one number, so materializing it here and
    # unpersisting costs nothing and leaves no cached blocks behind).
    d = d.repartitionByRange(P, "v").sortWithinPartitions("v") \
        .withColumn("pid", F.spark_partition_id()) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    try:
        tot = (
            d.groupBy("pid")
            .agg(F.sum("db").alias("tb"), F.sum("dc").alias("tc"))
            .collect()
        )
        nb = float(sum(r["tb"] for r in tot))
        nc = float(sum(r["tc"] for r in tot))
        if nb == 0 or nc == 0:
            return spark.createDataFrame([(float("nan"),)], "ks double")
        offs_b: dict[int, float] = {}
        offs_c: dict[int, float] = {}
        ob = oc = 0.0
        for r in sorted(tot, key=lambda r: r["pid"]):
            offs_b[r["pid"]], offs_c[r["pid"]] = ob, oc
            ob += r["tb"]
            oc += r["tc"]
        # literal pid -> exclusive-prefix-total maps (P entries; at P=1000
        # range partitions this is a 2000-literal expression — fine)
        mb = F.create_map(*itertools.chain.from_iterable(
            (F.lit(k), F.lit(v)) for k, v in offs_b.items()))
        mc = F.create_map(*itertools.chain.from_iterable(
            (F.lit(k), F.lit(v)) for k, v in offs_c.items()))
        w = Window.partitionBy("pid").orderBy("v") \
            .rowsBetween(Window.unboundedPreceding, 0)
        diff = ((mb[F.col("pid")] + F.sum("db").over(w)) / F.lit(nb)
                - (mc[F.col("pid")] + F.sum("dc").over(w)) / F.lit(nc))
        ks_val = d.select(diff.alias("diff")).agg(
            F.max(F.abs(F.col("diff"))).alias("ks")).first()["ks"]
    finally:
        d.unpersist()
    return spark.createDataFrame([(float(ks_val),)], "ks double")


def partition_stat_drift(
    df: DataFrame, partition_col: str, value: str, *,
    N: int, X: float, out: str = "code",
) -> DataFrame:
    """The reference's windowed Welford z-score applied to the SEQUENCE of
    per-partition means (partition = the time axis, per SURVEY.md §7.2.6):
    partition p's mean is checked against mean±X·stddev of the previous N
    partitions' means. First N partitions are Undefined. One tiny
    aggregate row per partition — window runs on O(partitions) rows."""
    from anomaly_detection_spark.operators.windowed import welford_windowed

    per_part = df.groupBy(partition_col).agg(
        F.avg(F.col(value).cast("double")).alias("part_mean"),
        F.count(F.lit(1)).alias("part_rows"),
    )
    # the window runs on the tiny per-partition aggregate, so one task
    # is exactly right — but Window.partitionBy(lit) constant-folds to
    # an UNPARTITIONED spec and WARN-spams every run; an empty substring
    # of the partition column is the same single group while referencing
    # an attribute the optimizer cannot fold away
    return welford_windowed(
        per_part, keys=F.substring(F.col(partition_col), 0, 0),
        order=partition_col, value="part_mean", N=N, X=X, out=out,
    )


def psi_categorical_by_group(
    base: DataFrame, cur: DataFrame, group: str, col: str, *,
    UL: float = 0.25, warning: float = 0.1,
) -> DataFrame:
    """Per-group categorical PSI: each group's category mix in ``cur``
    vs ``base`` (e.g. per-source lang mix), with the drift verdict per
    group. Two hash aggregates + one outer join on (group, category) —
    fully distributed; no driver-side math."""
    fb = base.groupBy(F.col(group).alias("g"), F.col(col).alias("cat")) \
             .agg(F.count(F.lit(1)).alias("cb"))
    fc = cur.groupBy(F.col(group).alias("g"), F.col(col).alias("cat")) \
            .agg(F.count(F.lit(1)).alias("cc"))
    joined = fb.join(fc, ["g", "cat"], "full_outer") \
               .fillna(0, subset=["cb", "cc"])
    from pyspark.sql import Window
    wg = Window.partitionBy("g")
    p = F.greatest(F.col("cb") / F.sum("cb").over(wg), F.lit(EPS))
    q = F.greatest(F.col("cc") / F.sum("cc").over(wg), F.lit(EPS))
    per_group = (
        joined.withColumn("_term", (p - q) * F.log(p / q))
        .groupBy("g").agg(F.sum("_term").alias("psi"))
    )
    code = (
        F.when(F.col("psi") > UL, F.lit(-1))
        .when(F.col("psi") > warning, F.lit(0))
        .otherwise(F.lit(1))
    )
    return per_group.select(F.col("g").alias(group), "psi", code.alias("code"))
