"""spark-submit entry point: run the flagship validation suite over a
code corpus with audit/resume, emitting throughput JSON.

Cluster:  spark-submit --py-files anomaly_detection_spark.zip \
              -m anomaly_detection_spark.run -- \
              --input /path/to/iceberg_or_parquet --audit /path/audit ...
Sandbox:  python -m anomaly_detection_spark.run --rows 200000

The same code path serves both; only the session factory differs (in a
real submit, the session comes from spark-submit's conf, master is the
cluster manager, and --py-files ships this package).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_session(args) -> SparkSession:
    import os

    from anomaly_detection_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    # under spark-submit (PYSPARK_GATEWAY_PORT set by its launcher) the
    # master/deploy conf comes from the submit command — don't override it
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return SparkSession.builder.appName("validation-engine").getOrCreate()
    return get_spark("validation-engine", cores=args.cores,
                     shuffle_partitions=args.shuffle_partitions)


def run_config_mode(spark: SparkSession, args, t0: float) -> int:
    """The reference's file-replay workflow, Spark-first: reference-format
    CSV/JSON -> config-compiled check suite -> verdicts sink (+ optional
    F1 against a label column)."""
    from anomaly_detection_spark.config import compile_config
    from anomaly_detection_spark.sources.files import (
        read_reference_csv, read_reference_json,
    )

    if not args.data:
        raise SystemExit("--config requires --data <series.csv|.json>")
    if args.data.endswith(".json"):
        df = read_reference_json(spark, args.data)
    else:
        df = read_reference_csv(spark, args.data)
        # keep label columns if present (pruned otherwise); join back on
        # the timestamp — the series' natural key (unique per series file)
        if args.evaluate:
            raw = spark.read.option("header", True).csv(args.data)
            if args.evaluate in raw.columns:
                from pyspark.sql import functions as FF
                lbl = raw.select(
                    FF.timestamp_seconds(
                        FF.when(FF.col("timestamp").cast("double") > 1e10,
                                FF.col("timestamp").cast("double") / 1000.0)
                        .otherwise(FF.col("timestamp").cast("double"))
                    ).alias("ts"),
                    FF.col(args.evaluate).cast("int").alias(args.evaluate),
                )
                df = df.join(lbl, "ts")

    verdicts = compile_config(args.config)(df)
    result = {"rows": verdicts.count(),
              "errors": verdicts.filter("status_code = -1").count()}
    if args.evaluate:
        from anomaly_detection_spark.evaluation import f1_score
        result["f1"] = round(
            f1_score(verdicts, code_col="status_code",
                     label_col=args.evaluate), 4)
    if args.output:
        verdicts.write.mode("overwrite").parquet(args.output)
        result["output"] = args.output
    else:
        verdicts.orderBy("ts").show(20, truncate=False)
    result["wall_s"] = round(time.time() - t0, 2)
    print(json.dumps(result) if args.json else result)
    return 0


def run_curate_mode(spark: SparkSession, args, t0: float) -> int:
    """Training-data curation pipeline over a documents table
    (doc_id/text/lang): quality + lang gates -> exact dedup -> MinHash
    near-dedup (optionally transitive), per-stage accounting JSON."""
    from anomaly_detection_spark.functions.curation import (
        CurationConfig, curate,
    )

    if not args.input:
        raise SystemExit("--curate requires --input <documents.parquet>")
    docs = spark.read.parquet(args.input)
    cfg = CurationConfig(
        min_quality=args.min_quality,
        allowed_langs=tuple(args.langs.split(",")),
        jaccard_threshold=args.jaccard,
        transitive_dedup=args.transitive,
    )
    curated, report = curate(docs, config=cfg)
    # write FIRST: the report counters are observe metrics that ride the
    # write job, so reading the report afterwards costs zero extra jobs
    if args.output:
        curated.write.mode("overwrite").parquet(args.output)
    stages = {r["stage"]: {"rows_in": r["rows_in"], "rows_out": r["rows_out"]}
              for r in report.collect()}
    result = {"stages": stages, "wall_s": round(time.time() - t0, 2)}
    if args.output:
        result["output"] = args.output
    print(json.dumps(result) if args.json else result)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="PySpark validation engine")
    p.add_argument("--input", default=None,
                   help="parquet/Iceberg path of (repo,path,commit,lang,content);"
                        " its 'bucket' column, if any (catalog layout), is the"
                        " resumable work unit; omit to use the deterministic"
                        " synthetic corpus")
    p.add_argument("--rows", type=int, default=100_000,
                   help="synthetic corpus rows (when --input omitted)")
    p.add_argument("--audit", default=None,
                   help="audit ledger path (enables resume: committed buckets"
                        " are skipped, and on the catalog layout their files"
                        " are never opened)")
    p.add_argument("--partition-buckets", type=int, default=64,
                   help="repo-hash buckets = resumable work units, when the"
                        " input has no 'bucket' column")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--json", action="store_true", help="emit one JSON line")
    # reference-workflow mode (the `python main.py -f -c conf.json` path):
    p.add_argument("--config", default=None,
                   help="reference-shape JSON check-suite config; requires --data")
    p.add_argument("--data", default=None,
                   help="series file for --config mode (reference CSV/JSON format)")
    p.add_argument("--output", default=None,
                   help="verdict sink for --config mode (parquet path; default console)")
    p.add_argument("--evaluate", default=None, metavar="LABEL_COL",
                   help="score F1 of status_code==-1 against this label column")
    # curation mode (LLM-training-data pipeline over a documents table):
    p.add_argument("--curate", action="store_true",
                   help="run the curation pipeline on --input "
                        "(documents parquet with doc_id/text/lang)")
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--langs", default="en,de,fr,es,zh")
    p.add_argument("--jaccard", type=float, default=0.8)
    p.add_argument("--transitive", action="store_true",
                   help="near-dedup keeps one doc per connected component")
    args = p.parse_args(argv)

    spark = build_session(args)
    t0 = time.time()

    if args.config:
        return run_config_mode(spark, args, t0)
    if args.curate:
        return run_curate_mode(spark, args, t0)

    from anomaly_detection_spark.catalog import BUCKET_COL

    if args.input:
        corpus = spark.read.parquet(args.input)
    else:
        from anomaly_detection_spark.corpus import generate_code_corpus
        corpus = generate_code_corpus(spark, args.rows)

    from anomaly_detection_spark.operators.constraints import corpus_constraint_codes

    if BUCKET_COL in corpus.columns:
        checked = corpus_constraint_codes(corpus, keep=[BUCKET_COL])
    else:
        checked = corpus_constraint_codes(corpus).withColumn(
            BUCKET_COL, F.pmod(F.xxhash64("repo"), F.lit(args.partition_buckets)))

    code_cols = ["c_path_not_null", "c_commit_format", "c_lang_domain",
                 "c_content_len_border"]

    if args.audit:
        from anomaly_detection_spark.audit import AuditLedger, run_partitioned_checks

        audit = run_partitioned_checks(
            spark, checked.withColumn("content_bytes",
                                      F.col("content_bytes").cast("double")),
            partition_col=BUCKET_COL, value_col="content_bytes",
            code_cols=code_cols, ledger=AuditLedger(spark, args.audit),
        )
        n_done = audit.count()
        totals = audit.agg(
            F.sum("n_rows").alias("rows"), F.sum("n_error").alias("errors"),
            # per-partition mean * n_value = content bytes validated,
            # recovered exactly from the ledger stats at zero extra scan
            # cost (mean averages non-null values only, so n_value — not
            # n_rows — is the matching count)
            F.sum(F.col("mean") * F.col("n_value")).alias("content_bytes"),
        ).first()
        rows = totals["rows"] or 0
        errors = totals["errors"] or 0
        content_bytes = totals["content_bytes"] or 0.0
    else:
        agg = checked.agg(
            F.count(F.lit(1)).alias("rows"),
            sum(F.sum(F.when(F.col(c) == -1, 1).otherwise(0)) for c in code_cols)
            .alias("errors"),
            F.sum("content_bytes").alias("content_bytes"),
            # MEASURED partition count: the distinct buckets the pass
            # actually validated (deriving it from --partition-buckets
            # made the partitions/hour metric tunable by a flag with
            # zero change in computation)
            F.countDistinct(BUCKET_COL).alias("n_parts"),
        ).first()
        rows, errors, n_done = agg["rows"], agg["errors"], agg["n_parts"]
        content_bytes = agg["content_bytes"] or 0.0

    wall = time.time() - t0
    # the north metric is "partitions/hour and GB/s scanned": report both
    # (content bytes = octet_length of the validated payload — the
    # logical column volume the checks consumed, not on-disk compressed
    # size)
    result = {
        "rows": int(rows), "errors": int(errors),
        "partitions_done": int(n_done), "wall_s": round(wall, 2),
        "rows_per_s": round(rows / wall, 1) if wall > 0 else None,
        "partitions_per_hour": round(n_done * 3600.0 / wall, 1)
        if wall > 0 else None,
        "content_gb_per_s": round(float(content_bytes) / 1e9 / wall, 4)
        if wall > 0 else None,
    }
    print(json.dumps(result) if args.json else result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
