"""SparkSession factory tuned for the extraction workload.

Replaces the reference's hand-rolled thread/process pools and manager queues
(ref: web_app/components/interpreter/parallelism.py:11-28,
interpreter.py:195-261) with Spark's task scheduler: parallelism is
partitions × executor threads, data movement is Arrow batches instead of
pickled manager proxies.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(master: str | None = None, app_name: str = "univer_ocr_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match core count in local mode — 200 default just adds scheduling
        # overhead with no skew benefit at this scale. Handles
        # local[N], local[N,maxFailures], local[*], and non-local masters.
        inside = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        first = inside.split(",")[0].strip()
        try:
            shuffle_partitions = cpus if first in ("", "*") else int(first)
        except ValueError:
            shuffle_partitions = cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # r6: 10 MB default is too timid for per-doc sketch/dimension tables
        # (e.g. the 255-component compressed MinHash sketch, ~25 MB at sf1.0)
        # whose broadcast keeps the Θ(n²·P) candidate stream unshuffled.
        # 64 MB is safe on any real executor (and the 8 GB local driver);
        # tables that outgrow it at larger corpus sizes fall back to
        # sort-merge automatically — the threshold is a cap, not a bet on n.
        # Applies to AQE's runtime conversion too (adaptive threshold
        # defaults to this value).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # payloads are KB-scale strings: cap Arrow batches so a batch of
        # mega-payload rows stays well inside worker memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to Python workers (--py-files contract); without this
    # executors can only import univer_ocr_spark when cwd happens to be the
    # repo root. A worker's first import of the package installs
    # worker_setup's guard, so its later tasks skip re-reading the unchanged
    # pyspark/spark-core/package zips at set-up.
    from univer_ocr_spark.packaging import ship_package

    ship_package(spark)
    return spark
