"""SparkSession factory with the engine's standard configuration.

Local-mode settings mirror what we'd submit cluster-side via spark-submit
(see scripts/submit.sh): AQE on (runtime re-plan + skew join), Arrow-batched
Python execution, UTC, shuffle partitions sized to cores (AQE coalesces).

``map_batches`` is the one batch->frame Arrow runner: every ``mapInPandas``
site goes through it, so the batch contract (column select, empty batches,
output framing) lives next to the fixed Arrow batch size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_CODEGEN_CACHE_ENTRIES = 1000
_ARROW_BATCH_ROWS = 32768


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
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(_ARROW_BATCH_ROWS))
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


def map_batches(df: DataFrame, cols: list[str], schema: T.StructType, fn) -> DataFrame:
    """Run ``fn`` over ``df[cols]`` one Arrow batch (at most
    ``_ARROW_BATCH_ROWS`` rows) at a time and return a frame of ``schema``.

    ``fn(pdf)`` gets a non-empty pandas frame of ``cols`` and returns the
    batch's output as a column mapping (name -> array, list or Series) or a
    pandas frame, or ``None``.  Zero-row input batches never reach ``fn``;
    ``None`` and zero-row outputs are dropped; every output is yielded in
    ``schema`` column order.  So a 0-row input gives a 0-row result with
    the declared schema, and no caller writes its own batch loop."""
    names = schema.fieldNames()

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out = fn(pdf)
            if out is None:
                continue
            out = pd.DataFrame(out)
            if len(out):
                yield out[names]

    return df.select(*cols).mapInPandas(run, schema)
