"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query is forced with a noop-sink write (full execution, no driver
collect bottleneck). Use tools/scaling_bench.py for the N-vs-4N scaling
evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # name in anomaly_detection_spark.queries.REGISTRY.
    # Round-4 renames (totals NOT comparable to BENCH_r03; compare
    # per-query): hampel+percentile -> robust_window_suite_events,
    # linear_fit+trend_classification -> trend_suite_events,
    # duplicate_orderkeys+referential_* -> integrity_suite (now with
    # planted violations), psi family+partition_drift -> drift_suite,
    # and the seeded-model family queries now ALSO compute their planted
    # invariant aggregates (extra work inside the same query).
    "flagship_pricing_summary",        # scan -> filter -> hash agg
    "constraint_suite_documents",      # row-level constraint codes
    "border_summary_lineitem",         # ladder expr + agg
    "welford_suite_events",            # window + expanding-window verdicts
    "robust_window_suite_events",      # percentile windows + hampel HOFs
    "ema_suite_events",                # EMA recurrence + rolling quantile
    "percent_score_events",            # event-time range frame
    "column_stats_documents",          # group stats
    "salted_stats_lineitem",           # two-level salted agg
    "welford_profile_events",          # mapInPandas sketch + merge
    "integrity_suite_lineitem_orders", # hash-agg uniq + two anti joins
    "quality_tokens_documents",        # quality features + token counts
    "lang_id_documents",               # marker-count expressions
    "fingerprint_documents",           # whole-batch Rabin-Karp kernel (r5)
    "minhash_near_dup_documents",      # LSH shuffle + verify join
    "simhash_near_dup_documents",      # vectorized pandas UDF + pigeonhole join
    "cosine_topk_embeddings",          # broadcast crossJoin + HOF dot
    "iforest_embeddings",              # per-group numpy forest + invariant
    "macd_cusum_events",               # dual-EMA + decayed cusum recurrences
    "time_averages_events",            # event-time range frames
    "trend_suite_events",              # regr_slope + sign-of-slope windows
    "asof_band_check_events",          # as-of join band check
    "clustering_embeddings",           # DBSCAN-core distance check
    "combination_alicante_events",     # suite composition + alicante score
    "filtering_check_events",          # per-series Butterworth IIR
    "repair_suite_events",             # feedback repair recurrences
    "lsh_topk_embeddings",             # GEMM sign-bucket ANN + recall invariant
    "iforest_retrain_events",          # rolling-retrain forests + invariant
    "curation_gate_documents",         # fused quality gate + exact dedup
    "ks_exact_events",                 # exact KS, JVM-window prefix sums
    "clustering_retrain_events",       # epoch-parallel DBSCAN retrain
    "rrcf_stream_events",              # streaming RRCF + planted invariant
    "curation_full_documents",         # full pipeline + invariant counts
    "embedding_near_dup",              # sign-GEMM bucket near-dup + verify
    "ivf_topk_embeddings",             # IVF ANN + recall invariant
    "dedup_components_documents",      # transitive pair-graph resolution
    "drift_suite",                     # psi x3 + partition-mean drift
    "recon_drift_events",              # PCA + real-AE recon drift (late r4)
    "viz_report_events",               # render-buffer tails + digitize hist
    #   ^ added round 5 (totals vs BENCH_r04 comparable minus this entry;
    #     combination_alicante also grew the config-compile sub-suite in
    #     r5 — compare per-query)
    "decontam_documents",              # 8-gram overlap vs broadcast bench set
    "repetition_suite_documents",      # one-pass mapInPandas Gopher metrics
    "mixture_sample_documents",        # broadcast-rate deterministic sample
    "pii_redact_documents",            # codegen regex scrub + blocklist join
    "dedup_safe_split_documents",      # component closure + hash split
    "vocab_topk_documents",            # word stats + heap top-k + idf
    #   ^ round 5b: totals vs earlier rounds comparable minus these six
]


def force(df) -> int:
    """Fully execute the plan without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _loadavg():
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        return None


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    from anomaly_detection_spark.queries import REGISTRY
    from anomaly_detection_spark.session import get_spark

    spark = get_spark("bench", cores=cpus, shuffle_partitions=cpus)
    # JIT/session warmup on a trivial job so q1 isn't charged for it
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # load-avg protocol (round 4, VERDICT r3 #4): record the 1-minute
    # load BEFORE the suite — anything well above this process's own
    # footprint means external sandbox load and the totals are inflated
    # (the r3 driver bench read ~25% high on unchanged queries under a
    # documented co-tenant). Per-query best-of-N (default 3) so one
    # stolen-CPU run doesn't define an entry.
    load_before = _loadavg()
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        fn = REGISTRY[name][0]
        runs = []
        for _ in range(reps):  # first run also pays codegen/JIT
            t0 = time.time()
            force(fn(spark, sf_dir))
            runs.append(time.time() - t0)
        timings[name] = round(min(runs), 3)
        # worst steady-state / best ratio — load-noise indicator (>2 on
        # a quiet machine only for codegen-heavy first runs, excluded)
        steady = runs[1:] if len(runs) > 1 else runs
        spreads[name] = round(max(steady) / max(min(runs), 1e-9), 2)
    load_after = _loadavg()

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline_query_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "protocol": {"reps_per_query": reps, "stat": "best_of_n",
                     "loadavg_before": load_before,
                     "loadavg_after": load_after,
                     "max_steady_spread": max(spreads.values()),
                     "noisy_queries": {k: v for k, v in spreads.items()
                                       if v > 1.5}},
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
