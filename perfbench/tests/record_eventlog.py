"""Re-record ``data/small_eventlog.jsonl``, the parser's test fixture.

    python3 perfbench/tests/record_eventlog.py

Runs a handful of tiny labelled jobs (a shuffle, a broadcast join, a
mapInPandas pass, a parquet write, a failing task and one unlabelled
job) with the event log on, and keeps only the event kinds the parser
reads, so the fixture stays small.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import PASS_PROP  # noqa: E402

KEEP = (
    "SparkListenerJobStart",
    "SparkListenerTaskEnd",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
)


def _double(batches):
    for b in batches:
        yield b * 2


def _boom(batches):
    for _ in batches:
        raise RuntimeError("deliberate task failure")
    yield from ()


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as tmp:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + tmp)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setLocalProperty(PASS_PROP, "1")

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        sc.setJobDescription("agg|exec")
        noop(spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count())
        sc.setJobDescription("join|exec")
        noop(spark.range(1_000).join(F.broadcast(spark.range(10)), "id"))
        sc.setJobDescription("udf|exec")
        noop(spark.range(1_000).mapInPandas(_double, "id long"))
        sc.setJobDescription("ctas|ctas")
        spark.range(1_000).repartition(2).write.parquet(os.path.join(tmp, "t"))
        sc.setJobDescription("fail|exec")
        try:
            noop(spark.range(10).mapInPandas(_boom, "id long"))
        except Exception:  # noqa: BLE001 — the failure is what is recorded
            pass
        sc.setJobDescription(None)
        spark.range(5).collect()
        spark.stop()

        (name,) = [n for n in os.listdir(tmp) if n.startswith(("local-", "app-"))]
        with open(os.path.join(tmp, name), encoding="utf-8") as src, open(
            os.path.join(HERE, "data", "small_eventlog.jsonl"), "w", encoding="utf-8"
        ) as dst:
            for line in src:
                if json.loads(line)["Event"] in KEEP:
                    dst.write(line)


if __name__ == "__main__":
    main()
