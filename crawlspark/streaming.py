"""Structured Streaming skin (SURVEY.md §2 I2/I3/I5) over the batch engine.

The reference is a batch while-loop; these wrappers let the same operators
run as an unbounded stream: file-source frontier deltas -> stateful seen-set
(applyInPandasWithState, bloom blob per hash shard) -> windowed fetch
metrics with a watermark for late fetch results.  The streaming seen-set
keeps only the GroupState plumbing: its probe indices and bit test/set are
seen.py's one bloom kernel, the same code seen.filter_new runs.

Tests drive this with Trigger.availableNow over parquet drops — state must
survive across micro-batches (the streaming twin of the engine's per-wave
checkpoint/resume).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from crawlspark.seen import _bits_from_blob, _bloom_test_and_set, _probe_indices

FRONTIER_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_h", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("fetched_at", T.TimestampType()),
    ]
)

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_h", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("fetched_at", T.TimestampType()),
        T.StructField("partition_id", T.IntegerType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [T.StructField("bloom_bits", T.BinaryType()), T.StructField("n_inserted", T.LongType())]
)


def read_frontier_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(FRONTIER_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def seen_filter_stream(
    frontier: DataFrame, p: int = 8, m: int = 1 << 17, k: int = 7
) -> DataFrame:
    """Streaming seen-set: the bloom shard lives in GroupState keyed by
    pmod(url_h, P) — the exact streaming twin of seen.filter_new (same probe
    math, same shard pinning); only never-seen rows are emitted."""

    def fn(key, pdfs, state: GroupState):
        blob, n_ins = state.get if state.exists else (None, 0)
        bits, n_ins = _bits_from_blob(blob, m), int(n_ins)
        pid = int(key[0])
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.drop_duplicates(subset=["url_h"])
            member = _bloom_test_and_set(bits, _probe_indices(pdf["url_h"].to_numpy(), m, k))
            new = pdf.loc[~member].copy()
            if len(new):
                n_ins += len(new)
                new["partition_id"] = pid
                yield new[["url", "url_h", "host", "fetched_at", "partition_id"]]
        state.update((bits.tobytes(), n_ins))

    keyed = frontier.withColumn(
        "shard", F.pmod(F.col("url_h"), F.lit(p)).cast("int")
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        fn, _OUT_SCHEMA, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )


def dedup_within_watermark(
    frontier: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: Spark's native
    ``dropDuplicatesWithinWatermark`` keyed on url_h.  Complementary to
    ``seen_filter_stream``: the bloom shards keep an unbounded seen-set in
    constant bits (never re-fetch), while this evicts each key once the
    watermark passes its event time — the right operator when re-crawl after
    a freshness horizon is DESIRED and per-key exactness is required inside
    it.  State size is bounded by the number of distinct keys per watermark
    window, partitioned by the state-store key (url_h) — no skew: the hash
    is uniform."""
    return frontier.withWatermark("fetched_at", watermark).dropDuplicatesWithinWatermark(
        ["url_h"]
    )


def windowed_fetch_counts(
    fetched: DataFrame, window: str = "1 minute", watermark: str = "5 minutes"
) -> DataFrame:
    """I3+I5: tumbling-window per-host fetch counts; late fetch results
    beyond the watermark are dropped (batch engine re-queues them instead)."""
    return (
        fetched.withWatermark("fetched_at", watermark)
        .groupBy(F.window("fetched_at", window).alias("w"), "host")
        .agg(F.count("*").alias("n_fetched"))
        .select("w.start", "w.end", "host", "n_fetched")
    )


def run_engine_stream(engine, checkpoint_dir: str, max_waves: int = 50) -> int:
    """foreachBatch skin over the full batch engine (SURVEY §2 I1's streaming
    option): each micro-batch of an unbounded tick stream drives exactly ONE
    engine wave via ``engine.step()``.  All crawl state lives in the engine's
    StateStore (per-wave snapshot + atomic manifest commit), so the streaming
    run is kill/resumable exactly like the batch loop AND produces the
    identical canonical crawl order (asserted by the streaming twin of the
    exact-mode equality test).

    The rate source is only a tick generator — the frontier itself is the
    StateStore's snapshot table, which is what a production deployment would
    use too (a stream of wave triggers over a table-backed frontier, the
    standard incremental-batch pattern).  Returns the number of waves run."""
    import time

    engine.bootstrap()
    spark = engine.spark
    state = {"waves": 0, "done": False}

    def one_wave(batch_df, batch_id):
        if state["done"] or state["waves"] >= max_waves:
            return
        if engine.step():
            state["waves"] += 1
            # same rebase cadence as the batch loop — the policy lives in
            # engine.maybe_rebase so the two drives cannot drift
            engine.maybe_rebase()
        else:
            state["done"] = True

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.foreachBatch(one_wave)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("crawl-engine-stream")
        .start()
    )
    try:
        while not state["done"] and state["waves"] < max_waves:
            if q.exception() is not None:
                raise q.exception()
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(30)
    return state["waves"]


def run_to_sink(
    df: DataFrame, checkpoint_dir: str, out_dir: str, query_name: str = "crawlstream"
):
    """availableNow micro-batch run to a parquet sink with checkpointed
    state — call repeatedly to process new frontier files exactly-once."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()
    return q
