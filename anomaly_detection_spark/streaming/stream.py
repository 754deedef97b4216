"""Structured Streaming front-end for the check suite.

The reference consumes an unbounded Kafka stream row-by-row
(/root/reference/src/consumer.py:164-191). The engine's streaming mode is
the same declarative pipeline as batch — the constraint Column
expressions are stream-agnostic — wired into readStream/writeStream:

    source (kafka/file/rate) -> constraint codes -> [watermark + windowed
    error aggregation] -> sink (kafka/parquet/memory/foreachBatch)

Warm-up gating ("Undefined until N samples", anomaly_detection.py:298-301)
and the rolling detectors map to watermarked event-time windows here;
exact sequential recurrences (EMA et al.) stay in the batch engine or in
foreachBatch micro-batches, which is where Spark puts per-key ordered
state anyway.

No Kafka broker exists in the sandbox; the file source exercises the
identical plan (tests stream parquet directories through it).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_source(
    spark: SparkSession, *, path: str | None = None, schema=None,
    kafka_servers: str | None = None, topic: str | None = None,
    fmt: str = "parquet",
):
    """readStream from a directory (sandbox/test) or Kafka (production).
    Kafka values are JSON messages {"ftr_vector": [...], "timestamp": ...}
    per the reference's wire format (README.md:97-103)."""
    if kafka_servers:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_servers)
            .option("subscribe", topic)
            .load()
        )
        return raw.select(
            F.from_json(F.col("value").cast("string"), schema).alias("j")
        ).select("j.*")
    return spark.readStream.format(fmt).schema(schema).load(path)


def with_constraint_codes(stream_df: DataFrame, code_exprs: dict) -> DataFrame:
    """Attach named check-code columns — identical expressions to batch."""
    out = stream_df
    for name, expr in code_exprs.items():
        out = out.withColumn(name, expr)
    return out


def windowed_error_rates(
    checked: DataFrame, *, ts_col: str, code_cols: Sequence[str],
    window: str = "1 minute", watermark: str = "2 minutes",
    keys: Sequence[str] = (),
) -> DataFrame:
    """Watermarked event-time windowed verdict aggregation: per window
    (and optional keys), row count plus error/warning counts per check.
    Late rows beyond the watermark are dropped by Spark's state cleanup —
    the streaming analogue of the reference's memory trimming."""
    err = sum(F.when(F.col(c) == -1, 1).otherwise(0) for c in code_cols)
    warn = sum(F.when(F.col(c) == 0, 1).otherwise(0) for c in code_cols)
    return (
        checked.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(err).alias("n_error"),
            F.sum(warn).alias("n_warning"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            *keys, "n", "n_error", "n_warning",
        )
    )


def warm_start_source(
    spark: SparkSession, *, history_path: str, stream_dir: str, schema,
    fmt: str = "parquet",
):
    """ConsumerFileKafka warm start (/root/reference/src/consumer.py:366-413):
    the reference replays a bounded history file through the detectors
    before attaching to the live Kafka topic. A batch frame cannot union
    with a stream, but Structured Streaming's file source has the exact
    semantics natively: every file already present in the monitored
    directory is processed in the FIRST micro-batch (the bootstrap), later
    arrivals stream incrementally. This stages the history file(s) into
    the monitored directory (a driver-side metadata op) and returns the
    stream; on the Kafka path the same warm start is
    ``startingOffsets=earliest``."""
    import glob
    import os
    import shutil

    os.makedirs(stream_dir, exist_ok=True)
    matches = glob.glob(history_path)
    if not matches:
        raise FileNotFoundError(history_path)
    files = []
    for f in matches:
        if os.path.isdir(f):
            files.extend(p for p in glob.glob(os.path.join(f, "*"))
                         if os.path.isfile(p))
        else:
            files.append(f)
    # prefix with a running index: part files from different source
    # directories commonly share basenames (part-00000...) and must not
    # clobber each other in the staged directory
    for i, part in enumerate(files):
        shutil.copy(part, os.path.join(
            stream_dir, f"hist{i:05d}_{os.path.basename(part)}"))
    return stream_source(spark, path=stream_dir, schema=schema, fmt=fmt)


def sink_filter(df: DataFrame, *, send_ok: bool = True,
                code_col: str = "status_code") -> DataFrame:
    """send_ok sink gate (/root/reference/src/output.py:22-26, applied at
    output.py:199): when ``send_ok`` is False only anomalous verdicts
    (code != OK) reach the sink — at corpus scale this predicate drops
    ~all rows before the sink's shuffle/write."""
    if send_ok:
        return df
    return df.filter(F.col(code_col) != 1)


def kafka_sink_frame(
    df: DataFrame, *, node_id, algorithm: str = "Unknown",
    value: str = "value", status: str | None = None,
    code_col: str = "status_code", ts: str | None = None,
    suggested: str | None = None, send_ok: bool = True,
) -> DataFrame:
    """The reference KafkaOutput wire shape
    (/root/reference/src/output.py:175-215) as a Kafka-writer-ready frame:
    topic ``anomalies_<node_id>``, value = JSON
    {algorithm[, value][, status][, timestamp][, status_code]
    [, suggested_value]} with absent fields omitted (to_json drops nulls),
    OK rows dropped unless ``send_ok``. Works for batch and streaming."""
    out = sink_filter(df, send_ok=send_ok, code_col=code_col)
    fields = [F.lit(algorithm).alias("algorithm")]
    if value in out.columns:
        fields.append(F.col(value).alias("value"))
    if status and status in out.columns:
        fields.append(F.col(status).alias("status"))
    if ts and ts in out.columns:
        fields.append(F.col(ts).alias("timestamp"))
    fields.append(F.col(code_col).alias("status_code"))
    if suggested and suggested in out.columns:
        fields.append(F.col(suggested).alias("suggested_value"))
    return out.select(
        F.lit(f"anomalies_{node_id}").alias("topic"),
        F.to_json(F.struct(*fields)).alias("value"),
    )


def write_kafka(df: DataFrame, *, servers: str, checkpoint: str, **frame_kw):
    """writeStream -> Kafka in the reference's wire format (no broker in
    the sandbox; the frame shape is unit-tested, this wires the sink)."""
    frame = kafka_sink_frame(df, **frame_kw)
    return (
        frame.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def run_to_memory(result: DataFrame, name: str, *, mode: str = "append"):
    """Test/debug sink: writeStream into an in-memory table; returns the
    query (caller calls processAllAvailable() / stop())."""
    return (
        result.writeStream.format("memory")
        .queryName(name).outputMode(mode).start()
    )


def run_foreach_batch(result: DataFrame, fn, checkpoint: str):
    """Production sink shape: micro-batch handler with checkpointing —
    resume-on-restart comes from Spark's own checkpoint here (the batch
    engine's audit ledger covers the batch path)."""
    return (
        result.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def streaming_curate(
    spark: SparkSession, *, input_dir: str, schema, output_dir: str,
    checkpoint: str, ledger, config=None, run_id: str | None = None,
    fmt: str = "parquet",
):
    """Streaming curation end-to-end: readStream -> foreachBatch ->
    batch ``curate()`` -> parquet append + ONE audit-ledger row per
    micro-batch.

    Each micro-batch runs the full curation chain exactly once (the
    stage counters are observe metrics riding the output write, plus a
    second observe node for the quality moments and the order-
    insensitive lineage fingerprint), then commits an audit row keyed
    ``batch_<id>``. Ledger field mapping for curation rows (the shared
    AUDIT_SCHEMA names count verdict codes on the check path):
    ``n_rows`` = curated rows out, ``n_error`` = gate + exact-dedup
    drops, ``n_warning`` = near-dedup drops, ``n_undefined`` = 0,
    ``mean``/``m2`` = quality moments of the survivors — consumers
    aggregating mixed ledgers should segment on this run's run_id. Exactly-once per batch id under crash/redeliver:
    the output lands in its own ``batch_id=<id>`` partition directory
    with mode=overwrite (a redelivered batch REPLACES its partial
    files instead of appending duplicates — readers load ``output_dir``
    and get ``batch_id`` as a partition column), and the audit append
    is guarded by the ledger's committed keys, so a crash between the
    two replays the (idempotent) write and then commits the audit row
    once. Returns the StreamingQuery."""
    import time as _time
    import uuid as _uuid

    from pyspark.sql import Observation

    from anomaly_detection_spark.audit import AUDIT_SCHEMA
    from anomaly_detection_spark.functions.curation import curate
    from anomaly_detection_spark.session import local_frame

    rid = run_id or _uuid.uuid4().hex[:12]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        key = f"batch_{batch_id}"
        if key in ledger.committed_keys():
            return                       # redelivered after a crash
        t0 = _time.perf_counter()
        curated, report = curate(batch_df, config=config)
        obs = Observation()
        to_write = curated.observe(
            obs,
            F.avg("quality").alias("mean"),
            (F.var_pop("quality") * F.count("quality")).alias("m2"),
            F.count("quality").alias("nv"),
            F.bit_xor(F.xxhash64("doc_id")).alias("fp"),
        )
        # overwrite the batch's OWN partition directory: redelivery after
        # a crash between output write and audit commit replaces partial
        # files instead of appending duplicates
        to_write.write.mode("overwrite").format(fmt) \
            .save(f"{output_dir}/batch_id={batch_id}")
        stages = {r[0]: r for r in report.rows()}   # counters rode the write
        report.release()
        n_gate_drop = stages["quality_lang_gate"][3] + stages["exact_dedup"][3]
        n_near_drop = stages["near_dedup"][3]
        n_out = stages["near_dedup"][2]
        m = obs.get
        ledger.append(local_frame(
            spark,
            [(key, rid, _time.time(), int(n_out),
              int(m["nv"]) if m["nv"] is not None else 0,
              int(m["fp"]) if m["fp"] is not None else 0,
              float(m["mean"]) if m["mean"] is not None else float("nan"),
              float(m["m2"]) if m["m2"] is not None else float("nan"),
              int(n_gate_drop), int(n_near_drop), 0,
              "pass", _time.perf_counter() - t0)],
            AUDIT_SCHEMA,
        ))

    stream = stream_source(spark, path=input_dir, schema=schema, fmt=fmt)
    return run_foreach_batch(stream, handle, checkpoint)
