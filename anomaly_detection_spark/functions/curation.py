"""End-to-end training-data curation pipeline: the composition a 100 TB
corpus actually runs — quality gate -> language filter -> exact dedup ->
near-dedup -> budget accounting — expressed as one lazy DataFrame chain
so Catalyst fuses the scalar gates into the scan and the only wide ops
are the two dedup shuffles.

Stage order is deliberate: cheap row-local predicates first (pushed to
the scan, shrink everything downstream), exact dedup before near-dedup
(hash shuffle removes identical copies so LSH never pays for them), and
token accounting last over survivors only.

Reporting is free: stage counters are ``df.observe`` metrics that ride
the CONSUMER's first action on the curated frame (one CollectMetrics
node per stage, zero extra jobs and zero extra executions of the
gate/dedup chain). The report object materializes the counters lazily —
if it is read before any action has run on ``curated``, it drives the
plan once itself.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from anomaly_detection_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
)
from anomaly_detection_spark.functions.text import (
    bpe_ish_token_count,
    lang_id_scored,
    quality_score,
    ws_token_count,
)
from anomaly_detection_spark.session import local_frame


@dataclass
class CurationConfig:
    min_quality: float = 0.5
    allowed_langs: tuple = ("en",)
    lang_from_text: bool = False       # predict via lang_id vs trust column
    near_dedup: bool = True
    jaccard_threshold: float = 0.8
    min_tokens: int = 10
    # False (default): drop the higher id of each PAIR (conservative —
    # docs only drop against a direct near-dup). True: connected-component
    # resolution over the pair graph, keep min id per component
    # (aggressive chain collapse, the common corpus-dedup policy).
    transitive_dedup: bool = False
    extra_drop_reasons: dict = field(default_factory=dict)


_REPORT_SCHEMA = "stage string, rows_in long, rows_out long, dropped long"


def _release_persists(persists: list) -> None:
    """Module-level so a weakref finalizer can call it; swallows JVM
    errors (interpreter/session shutdown races are fine to ignore)."""
    while persists:
        frame = persists.pop()
        try:
            frame.unpersist()
        except Exception:
            pass


class CurationReport:
    """Stage counters delivered through ``df.observe`` metrics on the
    curated plan: they are computed by whatever action the CALLER runs
    on ``curated`` (a write, a collect), so reporting adds no execution
    of the gate/dedup chain. Reading the report before any such action
    drives the plan once via ``count()``.

    ``df()`` / ``collect()`` / ``rows()`` expose the familiar
    (stage, rows_in, rows_out, dropped) shape; a disabled report
    (``with_report=False``) is empty and never runs a job."""

    def __init__(self, spark, curated=None, observations=None, n_raw=None,
                 persists=None, frames=None):
        self._spark = spark
        self._curated = curated
        self._obs: dict[str, Observation] = observations or {}
        self._n_raw = n_raw
        self._rows = None if observations else []
        self._persists: list = persists if persists is not None else []
        self._frames = frames     # (gated, exact, final) for the fallback
        # callers that discard the report (``curated, _ = curate(...)``)
        # must not leak the pipeline's internal persists for the session
        # lifetime: a GC finalizer drains whatever release() hasn't
        import weakref

        self._finalizer = weakref.finalize(
            self, _release_persists, self._persists)

    def release(self) -> None:
        """Unpersist the pipeline's internal candidate-set caches (safe
        any time AFTER the consumer's action; a no-op when nothing was
        persisted). Reading counters via ``rows()`` calls this
        automatically; ``with_report=False`` callers (streaming
        foreachBatch) call it themselves once the batch is written —
        and dropping the report lets the GC finalizer do it."""
        _release_persists(self._persists)

    @staticmethod
    def _available(obs: Observation) -> bool:
        """Non-blocking probe for whether the observe metrics have been
        delivered. There is no public non-blocking API (``Observation.
        get`` blocks forever when no action ran), so probe the JVM
        object's Option accessors — two spellings for resilience across
        Spark builds. If both are gone, report unavailable: the caller
        then degrades to one extra count job, never a hang."""
        jo = obs._jo
        for probe in ("getRowOrEmpty", "getOrEmpty"):
            try:
                return not getattr(jo, probe)().isEmpty()
            except Exception:
                continue
        return False

    def _ensure(self) -> None:
        if self._rows is not None:
            return
        first = next(iter(self._obs.values()))
        if not self._available(first):
            # Observe metrics arrive via an ASYNC QueryExecutionListener,
            # so a consumer action that just returned may not have
            # delivered them yet — poll briefly before concluding that no
            # action ran (a spurious count() here would both waste a job
            # and double-fire the metrics).
            import time as _time

            for _ in range(40):         # 2s: listener lag on a busy
                _time.sleep(0.05)       # driver costs a wait, never a
                if self._available(first):  # spurious re-execution
                    break
            else:
                # no action has consumed `curated`: drive the plan once
                # ourselves (the ONLY execution reporting ever adds, and
                # only on report-before-output access patterns)
                self._curated.count()
        n0 = self._n_raw
        n_scan = int(self._obs["scan"].get["n"])
        n1 = int(self._obs["gated"].get["n"])
        n2 = int(self._obs["exact"].get["n"])
        n3 = (int(self._obs["final"].get["n"])
              if "final" in self._obs else n2)
        trusted = n_scan == n0
        if trusted and "final" in self._obs:
            # post-shuffle truncation check: the anti-join's build side
            # materializes fully, so a complete pass satisfies
            # n_final == n_exact - n_losers exactly. When AQE's
            # empty-relation propagation eliminates the join (no losers)
            # the losers metrics never fire — then the identity
            # degenerates to n_final == n_exact, which truncation still
            # breaks (observed rows strictly under-count).
            n_losers = 0
            lo = self._obs.get("losers")
            if lo is not None and self._available(lo):
                try:
                    n_losers = int(lo.get["n"])
                except Exception:
                    n_losers = 0
            trusted = n3 == n2 - n_losers
        if not trusted:
            # The consumer's FIRST action was early-stopping (take/
            # first/show/limit): the metrics observed only the rows the
            # CollectLimit scanned (n_scan < n0 witnesses it), and a JVM
            # Observation keeps its first result forever. Recover with
            # dedicated count jobs on the retained lazy stage frames —
            # slower, but the counters stay CORRECT.
            gated, exact, final = self._frames
            n1 = gated.count()
            n2 = exact.count()
            n3 = final.count() if final is not None else n2
        stages = [("quality_lang_gate", n0, n1), ("exact_dedup", n1, n2),
                  ("near_dedup", n2, n3)]
        self._rows = [(s, int(b), int(a), int(b - a)) for s, b, a in stages]
        self.release()

    def rows(self) -> list[tuple]:
        self._ensure()
        return list(self._rows)

    def df(self) -> DataFrame:
        return local_frame(self._spark, self.rows(), _REPORT_SCHEMA)

    def collect(self):
        return self.df().collect()

    def count(self) -> int:
        return len(self.rows())


def curate(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    lang_col: str = "lang", config: CurationConfig | None = None,
    with_report: bool = True,
) -> tuple[DataFrame, CurationReport]:
    """-> (curated, report). ``curated`` = surviving rows with quality /
    token columns attached; ``report`` = lazy stage counters (see
    :class:`CurationReport`).

    With reporting on, the raw row count is one parquet-footer count job
    (column-pruned metadata scan) and every other counter is an observe
    metric riding the caller's output job — the gate/dedup chain executes
    exactly once: with near-dedup on, the exact-dedup output is persisted
    and BOTH the keeper anti-join side and the LSH candidate side read
    the cached blocks, so the CollectMetrics nodes fire exactly once
    (during the cache fill) and the gate input is scanned once per action
    instead of the five scans the unpersisted round-3 plan paid.
    ``with_report=False`` attaches nothing and returns an empty report
    (pure lazy pipeline for production / streaming foreachBatch runs)."""
    cfg = config or CurationConfig()
    spark = df.sparkSession

    obs: dict[str, Observation] = {}
    cur = df.withColumn(
        "quality", quality_score(F.col(text_col))
    ).withColumn("n_tokens", ws_token_count(F.col(text_col)))
    if with_report:
        # scan WITNESS: counts rows entering the gate. A full-pass
        # consumer action observes exactly n_raw here; an
        # early-stopping action (take/first/limit) observes fewer —
        # the report uses the mismatch to detect poisoned metrics
        # and fall back to explicit counts (CollectMetrics is a
        # pushdown barrier, so the gate filter cannot slide below it)
        obs["scan"] = Observation()
        cur = cur.observe(obs["scan"], F.count(F.lit(1)).alias("n"))
    gate = (F.col("quality") >= cfg.min_quality) & (
        F.col("n_tokens") >= cfg.min_tokens
    )
    if cfg.lang_from_text:
        cur = lang_id_scored(cur, text_col, out="lang_pred")
        gate = gate & F.col("lang_pred").isin(list(cfg.allowed_langs))
    else:
        gate = gate & F.col(lang_col).isin(list(cfg.allowed_langs))
    gated = cur.filter(gate)
    if with_report:
        obs["gated"] = Observation()
        gated = gated.observe(obs["gated"], F.count(F.lit(1)).alias("n"))
    # exact dedup (one digest shuffle) — same definition as the
    # standalone operator (dedup.exact_dedup), not a re-implementation
    exact = exact_dedup(gated, id_col, text_col)
    if with_report:
        obs["exact"] = Observation()
        exact = exact.observe(obs["exact"], F.count(F.lit(1)).alias("n"))

    # near-dedup: drop the higher-id member of each near-dup pair. Both
    # the keeper (anti-join) side and the LSH candidate side consume the
    # SAME persisted exact-dedup frame, so the gate/digest chain executes
    # exactly once per action (round-3 built the LSH side from an
    # unobserved REBUILD of the chain — measured 5 scans of the gate
    # input per action: keeper + LSH signature + LSH verify fetch + ...;
    # the persist collapses that to one, and the CollectMetrics nodes
    # inside the cached subtree still fire exactly once, during the
    # cache fill — asserted by the chain-executes-once accumulator
    # test). The persist rides the existing release() registry, so the
    # blocks are freed when the report is read (or by the GC finalizer /
    # streaming callers' explicit release()).
    persists: list = []
    if cfg.near_dedup:
        exact = exact.persist(StorageLevel.MEMORY_AND_DISK)
        persists.append(exact)
        pairs = minhash_lsh_pairs(
            exact, id_col, text_col,
            jaccard_threshold=cfg.jaccard_threshold,
            persist_registry=persists,
        )
        if cfg.transitive_dedup:
            from anomaly_detection_spark.functions.dedup import (
                resolve_components,
            )
            comp = resolve_components(pairs)
            losers = comp.filter(F.col("id") != F.col("component")) \
                .select(F.col("id").alias(id_col))
        else:
            losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    fallback_final = None
    if cfg.near_dedup:
        if with_report:
            # second witness: the anti-join's BUILD side always
            # materializes fully (a limit cannot early-stop it), and
            # losers is a distinct subset of exact's ids, so a full pass
            # satisfies n_final == n_exact - n_losers exactly. A
            # truncated final stage (post-shuffle take/limit) breaks
            # the identity and the report falls back to explicit counts
            obs["losers"] = Observation()
            losers = losers.observe(obs["losers"],
                                    F.count(F.lit(1)).alias("n"))
        final = exact.join(losers, on=id_col, how="left_anti")
        fallback_final = final
        if with_report:
            obs["final"] = Observation()
            final = final.observe(obs["final"], F.count(F.lit(1)).alias("n"))
    else:
        final = exact

    curated = final.withColumn(
        "bpe_tokens", bpe_ish_token_count(F.col(text_col))
    )

    if not with_report:
        # the empty report still carries the persist registry so eager
        # callers (streaming foreachBatch) can release() after writing
        return curated, CurationReport(spark, persists=persists)

    n0 = df.count()  # column-pruned scan: parquet footer counts
    return curated, CurationReport(spark, curated, obs, n0, persists,
                                   frames=(gated, exact, fallback_final))
