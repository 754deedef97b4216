"""A tiny traced Spark job for the attribution test, run as its own
process so its session and environment stay apart from any other:

    python3 valbench/tests/attribution_job.py <empty work dir>

Prints the event log's per-job-group counters as one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import envinfo  # noqa: E402
import spans  # noqa: E402


def main(work: str) -> None:
    logs = os.path.join(work, "eventlog")
    os.makedirs(logs)
    envinfo.pin_process_env(work)
    spark = envinfo.start_session("valbench-test", work, logs)
    try:
        from pyspark.sql import functions as F

        data = os.path.join(work, "t")
        spark.range(4_000).withColumn("b", F.col("id") % 4).repartition(1) \
            .write.partitionBy("b").parquet(data)      # one file per b
        tr = spans.Tracer(spark, enabled=True)
        with tr.run_pass(0):
            tr.call("scan", lambda: spark.read.parquet(data)
                    .filter(F.col("b") != 3))
            with tr.span("agg"):
                spark.range(10_000).groupBy(F.col("id") % 7).count().collect()
    finally:
        envinfo.stop_session(spark)
    print(json.dumps(spans.group_counters(spans.find_event_log(logs))))


if __name__ == "__main__":
    main(sys.argv[1])
