"""The benchmark workloads. Each drives the engine's public entry points
for one pass at a time and checks the pass's outputs against the
generator's ground truth without using the engine (pyarrow reads of the
written outputs, numpy arithmetic).

A workload exposes:
  prepare(spark)       untimed: generate / load inputs, build layouts
  run_pass(i)          one timed operation; returns what the check needs
  check(out)           list of failed-check messages (empty = pass ok)
  trace_extra(outs)    per-layer values that come from outputs, not spans
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import gen


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 1e6


def _data_files(path: str) -> list[str]:
    out = []
    for base, _, files in os.walk(path):
        out += [os.path.join(base, f) for f in files
                if f.endswith(".parquet") and not f.startswith(".")]
    return out


def _read_dir(path: str, columns=None):
    import pyarrow as pa

    tables = [pq.read_table(f, columns=columns) for f in sorted(_data_files(path))]
    return pa.concat_tables(tables) if tables else None


@contextlib.contextmanager
def _patched(module, name: str, replacement):
    orig = getattr(module, name)
    setattr(module, name, replacement)
    try:
        yield orig
    finally:
        setattr(module, name, orig)


class Workload:
    name = ""

    def __init__(self, seed: int, work: str, cache: str, tracer):
        self.seed = seed
        self.work = work
        self.cache = cache
        self.tr = tracer
        self.spark = None
        self.inputs: gen.Inputs | None = None
        # Spark job group -> layer, for groups the engine sets itself
        # (a streaming query tags its batches with its run id)
        self.group_alias: dict[str, str] = {}

    @property
    def rows(self) -> int:
        return self.inputs.rows

    @property
    def input_bytes(self) -> int:
        return int(self.inputs.truth["input_bytes"])

    def out_dir(self, i: int, what: str) -> str:
        return os.path.join(self.work, f"{what}-{i}")

    def cleanup_pass(self, i: int) -> None:
        for d in os.listdir(self.work):
            if d.endswith(f"-{i}"):
                shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)

    def trace_extra(self, outs: list[dict]) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# corpus_validate
# ---------------------------------------------------------------------------

CODE_COLS = ["c_path_not_null", "c_commit_format", "c_lang_domain",
             "c_content_len_border"]


# curate() settings: near-dedup with connected-component resolution
CURATION = dict(min_quality=0.5, allowed_langs=("en",), near_dedup=True,
                jaccard_threshold=0.8, min_tokens=10, transitive_dedup=True)


def _storage_mb(spark) -> float:
    """Memory + disk size of every cached block in the session."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


class CorpusValidate(Workload):
    name = "corpus_validate"
    size = 20_000
    n_buckets = 16
    n_docs = 1_000

    @property
    def rows(self) -> int:
        return self.inputs.rows + self.docs.rows

    @property
    def input_bytes(self) -> int:
        return int(self.inputs.truth["input_bytes"]
                   + self.docs.truth["input_bytes"])

    def prepare(self, spark) -> None:
        from anomaly_detection_spark.catalog import write_partitioned

        self.spark = spark
        self.inputs = gen.cached(self.cache, self.name, self.seed, self.size,
                                 lambda: gen.gen_corpus(self.seed, self.size))
        self.docs = gen.cached(self.cache, self.name + "-docs", self.seed,
                               self.n_docs,
                               lambda: gen.gen_docs(self.seed, self.n_docs))
        self.curation_stats = {"pair_precision": [], "component_rounds": []}
        self.layout = os.path.join(self.work, "corpus")
        write_partitioned(spark.read.parquet(self.inputs.path), self.layout,
                          n_buckets=self.n_buckets)
        self.buckets = sorted(int(d.split("=", 1)[1])
                              for d in os.listdir(self.layout)
                              if d.startswith("bucket="))

    def _dropped(self, i: int) -> list[int]:
        """A seeded eighth of the buckets, removed before the resume."""
        rng = np.random.default_rng([self.seed, 100 + i])
        k = max(1, len(self.buckets) // 8)
        return sorted(int(b) for b in rng.choice(self.buckets, k, replace=False))

    def _checked(self, corpus):
        from anomaly_detection_spark.catalog import BUCKET_COL
        from anomaly_detection_spark.operators.constraints import (
            corpus_constraint_codes,
        )
        from pyspark.sql import functions as F

        checked = self.tr.call("constraints", corpus_constraint_codes, corpus,
                               keep=[BUCKET_COL])
        return checked.withColumn("content_bytes",
                                  F.col("content_bytes").cast("double"))

    def _audit(self, checked, ledger, layer: str):
        from anomaly_detection_spark.audit import run_partitioned_checks
        from anomaly_detection_spark.catalog import BUCKET_COL

        with self.tr.span(layer):
            audit = run_partitioned_checks(
                self.spark, checked, partition_col=BUCKET_COL,
                value_col="content_bytes", code_cols=CODE_COLS, ledger=ledger)
            return [r.asDict() for r in audit.collect()]

    def run_pass(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from anomaly_detection_spark.audit import AuditLedger
        from anomaly_detection_spark.catalog import BUCKET_COL, read_table
        from anomaly_detection_spark.operators import drift, integrity, stats

        spark, tr = self.spark, self.tr
        ledger_path = self.out_dir(i, "ledger")
        t0 = time.perf_counter()
        corpus = tr.call("scan", read_table, spark, self.layout)
        checked = self._checked(corpus)
        fresh = self._audit(checked, AuditLedger(spark, ledger_path), "audit")

        prof = tr.call("stats", stats.welford_profile, checked,
                       "content_len").collect()
        n_dup = tr.call("integrity", integrity.uniqueness_violations, corpus,
                        ["repo", "path", "commit"]).count()
        half = F.col(BUCKET_COL) < F.lit(self.n_buckets // 2)
        psi = tr.call("drift", drift.psi_numeric,
                      checked.filter(half), checked.filter(~half),
                      "content_len", lo=0.0, hi=4000.0,
                      n_bins=20).first()["psi"]
        fresh_s = time.perf_counter() - t0
        # per-constraint code counts of the engine's output, for the check
        # (an untimed action, run after the pass)
        codes_df = checked.agg(*[
            F.sum((F.col(c) == code).cast("long")).alias(f"{c}={code}")
            for c in CODE_COLS for code in (-1, 2)])

        # simulated kill: a seeded eighth of the buckets never committed;
        # the resumed job starts cold (nothing the fresh pass cached)
        tr.release()
        dropped = self._dropped(i)
        self._drop_from_ledger(ledger_path, dropped)
        t1 = time.perf_counter()
        with tr.span("audit.resume"):
            ledger = AuditLedger(spark, ledger_path)
            done = [int(r["partition_key"]) for r in
                    ledger.committed().select("partition_key").distinct().collect()]
            pruned = tr.call("catalog", lambda: read_table(spark, self.layout)
                             .filter(~F.col(BUCKET_COL).isin(done)))
            resumed = self._audit(self._checked(pruned), ledger, "audit")
        resume_s = time.perf_counter() - t1

        tr.release()
        t2 = time.perf_counter()
        cur = self._curate(i)
        curate_s = time.perf_counter() - t2
        return {
            "seconds": fresh_s + resume_s + curate_s, "fresh_s": fresh_s,
            "resume_s": resume_s, "curate_s": curate_s, "fresh": fresh,
            "resumed": resumed, "dropped": dropped,
            "prof": [r.asDict() for r in prof], "n_dup": n_dup, "psi": psi,
            "ledger_files": len(_data_files(ledger_path)),
            "codes_df": codes_df, **cur,
        }

    def _curate(self, i: int) -> dict:
        """curate() with near-dedup and transitive resolution over the
        seeded documents; the curated frame is written to parquet, then
        the stage report is read (its counters ride the write)."""
        from anomaly_detection_spark.functions.curation import (
            CurationConfig,
            curate,
        )

        spark, tr = self.spark, self.tr
        out_path = self.out_dir(i, "curated")
        docs = tr.call("scan", spark.read.parquet, self.docs.path)
        with self._traced_curation(), tr.span("curation"):
            curated, report = curate(docs, config=CurationConfig(**CURATION))
            with tr.span("sink"):
                curated.write.parquet(out_path)
            persist_mb = _storage_mb(spark)
            with tr.span("curation.report"):
                stages = [list(r) for r in report.rows()]
        return {"curated": out_path, "stages": stages,
                "persist_mb": persist_mb, "output_mb": _dir_mb(out_path)}

    @contextlib.contextmanager
    def _traced_curation(self):
        """Traced run only: curate()'s stages become spans of their
        layers. The gated frame (text kernels) is forced under ``text``
        before exact dedup, the exact-dedup output under ``dedup.exact``
        before MinHash-LSH, and the component resolution runs under
        ``dedup.components``, counting its label-propagation rounds
        (one ``localCheckpoint`` each, plus the initial labels)."""
        if not self.tr.enabled:
            yield
            return
        from anomaly_detection_spark.functions import curation, dedup

        tr, stats = self.tr, self.curation_stats

        def exact_dedup(df, *a, **kw):
            df = tr.call("text", lambda: df)
            return tr.call("dedup.exact", orig_exact, df, *a, **kw)

        def minhash_lsh_pairs(df, *a, persist_registry=None, **kw):
            df = tr.call("dedup.exact", lambda: df)
            reg = persist_registry if persist_registry is not None else []
            with tr.span("dedup.minhash"):
                pairs = tr.force(orig_minhash(df, *a, persist_registry=reg,
                                              **kw))
                n_cand = reg[-1].count()          # the candidate-pair set
                stats["pair_precision"].append(pairs.count() / max(1, n_cand))
            return pairs

        def resolve_components(pairs, *a, **kw):
            n = [0]
            frame_cls = type(pairs)
            orig_cp = frame_cls.localCheckpoint

            def counted(self_df, *ca, **ckw):
                n[0] += 1
                return orig_cp(self_df, *ca, **ckw)
            with _patched(frame_cls, "localCheckpoint", counted):
                out = tr.call("dedup.components", orig_rc, pairs, *a, **kw)
            stats["component_rounds"].append(n[0] - 1)
            return out

        with _patched(curation, "exact_dedup", exact_dedup) as orig_exact, \
                _patched(curation, "minhash_lsh_pairs",
                         minhash_lsh_pairs) as orig_minhash, \
                _patched(dedup, "resolve_components",
                         resolve_components) as orig_rc:
            yield

    @staticmethod
    def _drop_from_ledger(path: str, dropped: list[int]) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        table = _read_dir(path)
        keep = pc.invert(pc.is_in(table.column("partition_key"),
                                  pa.array([str(b) for b in dropped])))
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(table.filter(keep), os.path.join(path, "part-0.parquet"))

    def check(self, out: dict) -> list[str]:
        t = self.inputs.truth
        errs = []
        fresh = {r["partition_key"]: r for r in out["fresh"]}
        if sorted(int(k) for k in fresh) != self.buckets:
            errs.append("ledger does not cover every bucket of the layout")
        for col in ("n_rows", "n_error", "n_warning", "n_undefined"):
            got = sum(int(r[col]) for r in fresh.values())
            if got != t[col]:
                errs.append(f"ledger {col} {got} != truth {t[col]}")
        got = out.pop("codes_df").first().asDict()
        for col, code, want in gen.planted_code_counts(self.seed, t["n_rows"]):
            if got[f"{col}={code}"] != want:
                errs.append(f"{col} == {code} on {got[f'{col}={code}']} rows, "
                            f"planted {want}")
        resumed = {r["partition_key"]: r for r in out["resumed"]}
        if sorted(int(k) for k in resumed) != out["dropped"]:
            errs.append(f"resume recomputed {sorted(resumed)} "
                        f"not the dropped {out['dropped']}")
        for k, r in resumed.items():
            f = fresh.get(k, {})
            for col in ("n_rows", "n_error", "input_fingerprint"):
                if r[col] != f.get(col):
                    errs.append(f"resumed bucket {k} {col} differs")
        prof = out["prof"]
        if len(prof) != 1 or prof[0]["n"] != t["n_rows"] or not math.isclose(
                prof[0]["mean"], t["content_len_mean"], rel_tol=1e-9):
            errs.append(f"welford profile {prof} != truth")
        if out["n_dup"] != t["dup_rows"]:
            errs.append(f"uniqueness {out['n_dup']} != {t['dup_rows']}")
        if not (out["psi"] >= 0.0 and math.isfinite(out["psi"])):
            errs.append(f"psi {out['psi']} not a finite non-negative value")
        d = self.docs.truth
        if out["stages"] != d["stages"]:
            errs.append(f"curation report {out['stages']} != {d['stages']}")
        kept = _read_dir(out["curated"], ["doc_id"])
        ids = sorted(kept.column("doc_id").to_pylist()) if kept else []
        if ids != d["kept_ids"]:
            errs.append(f"curated output keeps {len(ids)} docs, "
                        f"truth {len(d['kept_ids'])}")
        return errs

    def trace_extra(self, outs: list[dict]) -> dict[str, float]:
        med = lambda xs: float(np.median(xs))
        stats = self.curation_stats
        return {
            "audit.resume_s": med([o["resume_s"] for o in outs]),
            "audit.ledger_files": med([o["ledger_files"] for o in outs]),
            "audit.resume_recomputed_ratio": med(
                [len(o["resumed"]) / len(o["dropped"]) for o in outs]),
            "scan.content_gb_per_s": self.inputs.truth["content_bytes"] / 1e9
            / med([o["fresh_s"] for o in outs]),
            "curation.step_s": med([o["curate_s"] for o in outs]),
            "curation.persist_mb": med([o["persist_mb"] for o in outs]),
            "sink.output_mb": med([o["output_mb"] for o in outs]),
            "dedup.pair_precision": med(stats["pair_precision"] or [0.0]),
            "dedup.component_rounds": med(stats["component_rounds"] or [0.0]),
        }


# ---------------------------------------------------------------------------
# series_config
# ---------------------------------------------------------------------------

# detector -> the engine module (layer) that implements it
ALG_LAYER = {
    "BorderCheck": "constraints", "EMA": "sequential", "Welford": "windowed",
    "IsolationForest": "mvoutlier",
}
# measured F1 of the suite is ~0.65 (IsolationForest's contamination share
# is the false positives); the floor keeps 2x headroom
F1_FLOOR = 0.3


# streaming step: Welford over all earlier samples of a series, plus a
# BorderCheck code column; both bands leave only the planted spikes as
# border errors
STREAM_X, STREAM_STAGES = 4.0, (0.8,)
STREAM_BORDER = dict(LL=-10.0, UL=50.0, warning_stages=[0.9])
STREAM_FILES = 2          # micro-batches per query (maxFilesPerTrigger=1)


class SeriesConfig(Workload):
    name = "series_config"
    size = 20_000
    n_series = 40

    def prepare(self, spark) -> None:
        self.spark = spark
        self.inputs = gen.cached(
            self.cache, self.name, self.seed, self.size,
            lambda: gen.gen_series(self.seed, self.size, self.n_series))
        self.config_path = os.path.join(self.work, "conf.json")
        with open(self.config_path, "w") as f:
            json.dump(gen.SERIES_CONFIG, f)
        table = pq.read_table(self.inputs.path)
        self.stream_in = os.path.join(self.work, "stream-in")
        gen.split_series_files(table, self.stream_in, STREAM_FILES)
        self.stream_truth = gen.welford_stream_codes(table, STREAM_X,
                                                     STREAM_STAGES)

    @contextlib.contextmanager
    def _traced_detectors(self):
        """Traced run only: every detector the config compiles becomes a
        span of its module's layer; its input (the running verdict frame,
        i.e. the previous join-backs) is forced first under the caller's
        layer, so join-back time lands on config."""
        if not self.tr.enabled:
            yield
            return
        from anomaly_detection_spark import config

        tr = self.tr

        def compile_detector(alg, conf, **kw):
            t = orig(alg, conf, **kw)
            layer = ALG_LAYER.get(config._clean_alg(alg), "config")

            def traced(df):
                df = tr.call(tr.current(), lambda: df)
                return tr.call(layer, t, df)
            return traced

        with _patched(config, "compile_detector", compile_detector) as orig:
            yield

    def run_pass(self, i: int) -> dict:
        from anomaly_detection_spark.config import compile_config
        from anomaly_detection_spark.evaluation import f1_score

        spark, tr = self.spark, self.tr
        out_path = self.out_dir(i, "verdicts")
        t0 = time.perf_counter()
        events = tr.call("scan", spark.read.parquet, self.inputs.path)
        with self._traced_detectors():
            with tr.span("config.compile"):
                suite = compile_config(self.config_path)
            verdicts = tr.call("config", suite, events)
        with tr.span("sink"):
            verdicts.write.mode("overwrite").parquet(out_path)
        with tr.span("evaluation"):
            f1 = f1_score(spark.read.parquet(out_path),
                          code_col="status_code", label_col="label")
        batch_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        stream = self._stream(i)
        stream_s = time.perf_counter() - t1
        return {"seconds": batch_s + stream_s, "stream_s": stream_s,
                "f1": f1, "out": out_path, "output_mb": _dir_mb(out_path),
                **stream}

    def _stream(self, i: int) -> dict:
        """availableNow file-source query, one file per micro-batch:
        streaming Welford (``applyInPandasWithState``) then a BorderCheck
        code column, into a checkpointed parquet sink."""
        from pyspark.sql import functions as F

        from anomaly_detection_spark.operators.constraints import border_check
        from anomaly_detection_spark.streaming.stateful import (
            streaming_welford_check,
        )
        from anomaly_detection_spark.streaming.stream import (
            with_constraint_codes,
        )

        spark, tr = self.spark, self.tr
        out_path = self.out_dir(i, "stream-out")
        with tr.span("stream"):
            src = (spark.readStream.schema("key string, order double, "
                                           "value double")
                   .option("maxFilesPerTrigger", 1).parquet(self.stream_in))
            checked = with_constraint_codes(
                streaming_welford_check(src, X=STREAM_X,
                                        warning_stages=STREAM_STAGES),
                {"c_value_border": border_check(F.col("value"),
                                                **STREAM_BORDER)})
            q = (checked.writeStream.format("parquet")
                 .option("path", out_path)
                 .option("checkpointLocation", self.out_dir(i, "stream-ck"))
                 .trigger(availableNow=True).start())
            self.group_alias[str(q.runId)] = "stream"
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
        return {"stream_out": out_path, "progress": [{
            "trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
            "planning_s": p.durationMs.get("queryPlanning", 0) / 1e3,
            "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
            "commit_s": (p.durationMs.get("walCommit", 0)
                         + p.durationMs.get("commitOffsets", 0)
                         + sum(o.commitTimeMs for o in p.stateOperators)) / 1e3,
            "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
            "state_mb": sum(o.memoryUsedBytes for o in p.stateOperators) / 1e6,
        } for p in progress]}

    def check(self, out: dict) -> list[str]:
        t = self.inputs.truth
        errs = []
        table = _read_dir(out["out"], ["label", "status_code"])
        if table is None or table.num_rows != t["n_rows"]:
            errs.append(f"verdict rows {table and table.num_rows} != {t['n_rows']}")
            return errs
        label = np.asarray(table.column("label")) != 0
        pred = np.asarray(table.column("status_code")) == -1
        if int(label.sum()) != t["n_spikes"]:
            errs.append("labels did not survive the suite")
        missed = int((label & ~pred).sum())
        if missed:
            errs.append(f"{missed} planted spikes not flagged")
        tp = int((label & pred).sum())
        fp = int((~label & pred).sum())
        fn = int((label & ~pred).sum())
        f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 0.0
        if not math.isclose(f1, out["f1"], rel_tol=1e-12):
            errs.append(f"engine f1 {out['f1']} != recomputed {f1}")
        if f1 < F1_FLOOR:
            errs.append(f"f1 {f1:.3f} below floor {F1_FLOOR}")
        return errs + self._check_stream(out)

    def _check_stream(self, out: dict) -> list[str]:
        """Every event scored once; Welford codes equal the numpy
        recomputation (rows within 1e-9 of a band edge excepted); border
        errors are exactly the planted spikes; one batch per file."""
        errs = []
        if len(out["progress"]) != STREAM_FILES:
            errs.append(f"{len(out['progress'])} micro-batches, "
                        f"expected {STREAM_FILES}")
        table = _read_dir(out["stream_out"],
                          ["key", "order", "code", "c_value_border"])
        if table is None or table.num_rows != self.inputs.rows:
            errs.append(f"stream rows {table and table.num_rows} "
                        f"!= {self.inputs.rows}")
            return errs
        edges = [1.0, *STREAM_STAGES]
        wrong, seen = 0, set()
        for k, o, c in zip(table.column("key").to_pylist(),
                           table.column("order").to_pylist(),
                           table.column("code").to_pylist()):
            want, vn = self.stream_truth[(k, o)]
            seen.add((k, o))
            if c != want and min(abs(vn - e) for e in edges) > 1e-9:
                wrong += 1
        if wrong or len(seen) != table.num_rows:
            errs.append(f"{wrong} streaming Welford codes differ, "
                        f"{table.num_rows - len(seen)} rows repeated")
        border = np.asarray(table.column("c_value_border"))
        if int((border == -1).sum()) != self.inputs.truth["n_spikes"]:
            errs.append(f"{int((border == -1).sum())} border errors, "
                        f"planted {self.inputs.truth['n_spikes']}")
        return errs

    def trace_extra(self, outs: list[dict]) -> dict[str, float]:
        med = lambda xs: float(np.median(xs))
        per_pass = lambda k: med([sum(b[k] for b in o["progress"])
                                  for o in outs])
        last = lambda k: med([o["progress"][-1][k] for o in outs])
        batches = [b["trigger_s"] for o in outs for b in o["progress"]]
        pct, tail = tail_percentile(batches)
        return {
            "sink.output_mb": med([o["output_mb"] for o in outs]),
            "stream.step_s": med([o["stream_s"] for o in outs]),
            "stream.planning_s": per_pass("planning_s"),
            "stream.add_batch_s": per_pass("add_batch_s"),
            "stream.commit_s": per_pass("commit_s"),
            "stream.state_rows": last("state_rows"),
            "stream.state_mb": last("state_mb"),
            "stream.batch_p50_s": med(batches),
            "stream.batch_tail_s": tail,
            "stream.batch_tail_pct": pct,
        }


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(p, value): the highest percentile of TAIL_PERCENTILES with at
    least TAIL_MIN_BEYOND samples above it (nearest-rank value); with too
    few samples for any, the median."""
    xs = sorted(samples)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100 * len(xs)))
        if len(xs) - rank >= TAIL_MIN_BEYOND:
            return p, xs[rank - 1]
    return 50.0, float(np.median(xs)) if xs else 0.0


WORKLOADS = {w.name: w for w in (CorpusValidate, SeriesConfig)}
