"""Validation-engine benchmark: one workload per run, fresh process.

    python3 valbench/run.py --workload corpus_validate --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Untraced (``--trace 0``) it measures the
end-to-end metrics; traced (``--trace 1``) it reports the per-layer
breakdown. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
See valbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import envinfo  # noqa: E402  (stdlib-only; imported before the session)

MIN_MEASURED = 1      # reported passes per run, whatever --seconds says

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "rows_per_s": "1/s",
    "input_mb_per_s": "MB/s", "peak_rss_mb": "MB",
}

# span name -> per-layer self-time metric
SPAN_METRIC = {
    "scan": "scan.s", "constraints": "constraints.s", "audit": "audit.commit_s",
    "audit.resume": "audit.resume_self_s", "catalog": "catalog.s",
    "stats": "stats.s", "integrity": "integrity.s", "drift": "drift.s",
    "config.compile": "config.compile_s", "config": "config.join_s",
    "windowed": "windowed.s", "sequential": "sequential.s",
    "mvoutlier": "mvoutlier.s", "evaluation": "evaluation.s",
    "sink": "sink.write_s", "text": "text.s", "dedup.exact": "dedup.exact_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.components": "dedup.components_s", "curation": "curation.s",
    "curation.report": "curation.report_s", "stream": "stream.s",
}
# layers (engine modules) whose Spark jobs are counted; a span's job
# group belongs to the layer named by its first dotted component
COUNTER_LAYERS = ("scan", "constraints", "audit", "catalog", "stats",
                  "integrity", "drift", "config", "windowed", "sequential",
                  "mvoutlier", "evaluation", "sink", "text", "dedup",
                  "curation", "stream")
COUNTER_UNITS = {"tasks": "count", "cpu_s": "s", "shuffle_mb": "MB",
                 "spill_mb": "MB"}
EXTRA_UNITS = {
    "session.start_s": "s", "scan.input_mb": "MB",
    "scan.content_gb_per_s": "GB/s", "catalog.resume_files_opened": "count",
    "audit.resume_s": "s", "audit.resume_recomputed_ratio": "ratio",
    "audit.ledger_files": "count", "stats.arrow_mb": "MB",
    "sequential.arrow_mb": "MB", "mvoutlier.arrow_mb": "MB",
    "sink.output_mb": "MB", "trace.untraced_pass_s": "s",
    "trace.traced_pass_s": "s", "trace.overhead_s": "s",
    "trace.unattributed_s": "s", "curation.step_s": "s",
    "curation.persist_mb": "MB", "curation.report_jobs": "count",
    "dedup.pair_precision": "ratio", "dedup.component_rounds": "count",
    "stream.step_s": "s", "stream.planning_s": "s", "stream.add_batch_s": "s",
    "stream.commit_s": "s", "stream.state_rows": "count",
    "stream.state_mb": "MB", "stream.batch_p50_s": "s",
    "stream.batch_tail_s": "s", "stream.batch_tail_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    units = {m: "s" for m in SPAN_METRIC.values()}
    for layer in COUNTER_LAYERS:
        for c, u in COUNTER_UNITS.items():
            units[f"{layer}.{c}"] = u
    units.update(EXTRA_UNITS)
    return units


def _median(xs) -> float:
    return statistics.median(list(xs))


def measure(wl, seconds: float, traced: bool, log) -> dict:
    """Closed loop, one pass after another: the cold pass, then measured
    passes until ``seconds`` have passed since the cold pass started (at
    least MIN_MEASURED). Traced, the measured passes alternate untraced /
    traced, so the tracing overhead is measured in-run."""
    tr = wl.tr
    passes, failed = [], 0
    t_start = time.perf_counter()

    def one(trace_on: bool, measured: bool) -> None:
        nonlocal failed
        i = len(passes)
        tr.enabled = trace_on
        ok, out = False, None
        try:
            with tr.run_pass(i):
                out = wl.run_pass(i)
            errs = wl.check(out)
            for e in errs:
                log(f"check failed [{wl.name} pass {i}]: {e}")
            ok = not errs
        except Exception:
            log(traceback.format_exc())
        finally:
            tr.enabled = False
            wl.cleanup_pass(i)
        failed += not ok
        passes.append({"i": i, "traced": trace_on, "measured": measured,
                       "out": out})

    one(False, False)                              # the cold pass
    n = 0
    while n < MIN_MEASURED + traced or \
            time.perf_counter() - t_start < seconds:
        one(traced and n % 2 == 1, True)
        n += 1
    return {"passes": passes, "failed": failed}


def end_to_end(wl, res: dict, setup_s: float, rss_mb: float) -> dict:
    secs = lambda ps: [p["out"]["seconds"] for p in ps if p["out"]]
    warm = secs(p for p in res["passes"] if p["measured"])
    cold = secs(res["passes"][:1])
    pass_s = _median(warm) if warm else float("nan")
    return {
        "setup_s": setup_s,
        "cold_pass_s": cold[0] if cold else float("nan"),
        "pass_s": pass_s,
        "rows_per_s": wl.rows / pass_s,
        "input_mb_per_s": wl.input_bytes / 1e6 / pass_s,
        "peak_rss_mb": rss_mb,
    }


def per_layer(wl, res: dict, setup_s: float, counters: dict) -> dict:
    from spans import ROOT as ROOT_SPAN

    tr = wl.tr
    warm = [p for p in res["passes"] if p["measured"]]
    plain = [p for p in warm if not p["traced"] and p["out"]]
    traced = [p for p in warm if p["traced"] and p["out"]]
    ids = [p["i"] for p in traced]
    n = max(1, len(ids))
    st = tr.layer_self_times(ids)
    vals = dict.fromkeys(per_layer_units(), 0.0)
    for span, metric in SPAN_METRIC.items():
        if span in st:
            vals[metric] = _median(st[span])
    vals["trace.unattributed_s"] = _median(st.get(ROOT_SPAN, [0.0]))

    totals: dict[str, dict[str, float]] = {}
    for group, c in counters.items():
        layer = wl.group_alias.get(group, group).split(".", 1)[0]
        if layer in COUNTER_LAYERS:
            t = totals.setdefault(layer, dict.fromkeys(c, 0.0))
            for k, v in c.items():
                t[k] += v
    for layer, t in totals.items():
        for c in COUNTER_UNITS:
            vals[f"{layer}.{c}"] = t[c] / n
    scan = totals.get("scan", {})
    vals["scan.input_mb"] = scan.get("input_mb", 0.0) / n
    vals["catalog.resume_files_opened"] = totals.get(
        "catalog", {}).get("files_read", 0.0) / n
    for layer in ("stats", "sequential", "mvoutlier"):
        vals[f"{layer}.arrow_mb"] = totals.get(layer, {}).get("python_mb", 0.0) / n
    vals["curation.report_jobs"] = counters.get(
        "curation.report", {}).get("jobs", 0.0) / n

    vals["session.start_s"] = setup_s
    if plain:
        vals["trace.untraced_pass_s"] = _median(p["out"]["seconds"] for p in plain)
        # user-facing figures (resume time, throughput) from untraced passes
        vals.update(wl.trace_extra([p["out"] for p in plain]))
    if traced:
        vals["trace.traced_pass_s"] = _median(p["out"]["seconds"] for p in traced)
    vals["trace.overhead_s"] = vals["trace.traced_pass_s"] - vals["trace.untraced_pass_s"]
    return vals


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    if not os.path.isdir(os.path.join(ROOT, "anomaly_detection_spark")):
        log(f"valbench: engine package not found under {ROOT}; "
            "run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)

    state = os.path.join(ROOT, ".valbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    envinfo.pin_process_env(work)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    try:
        return _run(args, work, os.path.join(state, "cache"), event_dir, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, cache, event_dir, log) -> int:
    steal0 = envinfo.cpu_steal_jiffies()
    load0 = envinfo.loadavg()
    spark = envinfo.start_session(f"valbench-{args.workload}", work, event_dir)
    setup_s = envinfo.seconds_since_process_start()

    from spans import Tracer, find_event_log, group_counters
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        envinfo.stop_session(spark)
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    meta = envinfo.metadata(spark)
    meta["jvm_probe_s"] = envinfo.jvm_probe(spark)
    meta["numpy_probe_s"] = envinfo.numpy_probe()

    wl = WORKLOADS[args.workload](args.seed, work, cache, Tracer(spark))
    t_prep = time.perf_counter()
    wl.prepare(spark)                               # untimed
    meta["prepare_s"] = time.perf_counter() - t_prep
    with envinfo.RssSampler() as rss:
        res = measure(wl, args.seconds, bool(args.trace), log)
    envinfo.stop_session(spark)
    counters = group_counters(find_event_log(event_dir)) if event_dir else {}

    steal1 = envinfo.cpu_steal_jiffies()
    meta.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        rows=wl.rows, input_bytes=wl.input_bytes, setup_s=setup_s,
        loadavg_before=load0, loadavg_after=envinfo.loadavg(),
        cpu_steal_share=(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        pass_seconds=[p["out"]["seconds"] if p["out"] else None
                      for p in res["passes"]],
        pass_parts=[{k: v for k, v in p["out"].items()
                     if k.endswith("_s")} if p["out"] else None
                    for p in res["passes"]])
    log("valbench run: " + json.dumps(meta))

    if args.trace:
        vals = per_layer(wl, res, setup_s, counters)
        units = per_layer_units()
    else:
        vals = end_to_end(wl, res, setup_s, rss.peak_mb)
        units = END_TO_END_UNITS
    attempted = len(res["passes"])
    finite = all(math.isfinite(v) for v in vals.values())
    correct = res["failed"] == 0 and finite
    if not finite:      # no pass finished: report zeros, marked incorrect
        vals = {k: v if math.isfinite(v) else 0.0 for k, v in vals.items()}
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": res["failed"],
        "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
