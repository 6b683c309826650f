"""SparkSession factory with the engine's standard configuration.

Local-mode settings mirror what we'd submit cluster-side via spark-submit
(see scripts/submit.sh): AQE on (runtime re-plan + skew join), Arrow-batched
Python execution, UTC, shuffle partitions sized to cores (AQE coalesces).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    parallelism: int | None = None,
    app_name: str = "crawlspark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cores, 2 * cores)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # One crawl wave builds 130-190 generated classes (measured on the
        # perfbench crawl: bloom seen-set, take_k, 4 cores).  The default
        # cache of 100 entries evicts them before the next wave reuses them,
        # so every wave recompiled ~1 s of Janino code; 1000 entries keep a
        # steady wave's plans compiled.  Static conf: set at session build.
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
