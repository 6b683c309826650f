"""Priority scheduler (SURVEY.md §2 G1-G4): the Spark SQL priority queue that
replaces the reference's implicit sequential loop order.

Ordering is ALWAYS a pure sort key — (priority, depth, listing_rank,
page_offset, url_h) per host for scheduling, and the canonical global key
(phase, listing_rank, depth, page_offset, host, url_h) for crawl_seq — never
execution order, never monotonically_increasing_id.  That is what makes a
distributed engine reproduce the sequential reference's exact crawl ordering
(BASELINE.json:6,14) at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HOST_ORDER = ["priority", "depth", "listing_rank", "page_offset", "url_h"]

# Canonical global crawl order — reproduces the reference's sequential loop:
# all listing pages in oa order (host tie-break), then per seed rank each
# hotel's overview then its review pages in or order.
CANONICAL_ORDER_COLS = ["ord_phase", "listing_rank", "depth", "page_offset", "host", "url_h"]


def with_canonical_key(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "ord_phase", F.when(F.col("kind") == "listing", F.lit(0)).otherwise(F.lit(1))
    )


def rank(df: DataFrame) -> DataFrame:
    """Per-host priority rank (G1): listing-depth priority first
    (BASELINE.json:6 'listing pages before review-detail pages')."""
    w = Window.partitionBy("host").orderBy(*HOST_ORDER)
    return df.withColumn("host_rank", F.row_number().over(w))


def dedup_rank_topk_fused(
    df: DataFrame, k: int, salt_buckets: int = 32, dedup_tiebreak: str = "url"
) -> DataFrame:
    """Exact-dedup + skew-proof per-host top-k in ONE shuffle.

    A url_h-keyed dropDuplicates followed by a (host, salt) rank costs two
    shuffles; but same url_h implies same host+salt (salt = pmod(url_h, S)),
    so one repartition on (host, salt) lets BOTH windows run shuffle-free:
    HashPartitioning(host, salt) satisfies the clustering requirement of the
    (host, salt, url_h) dedup window AND the (host, salt) phase-1 rank —
    Spark inserts only local sorts.  Phase 2 re-ranks the <= S*k survivors
    per host exactly (same argument as rank_topk_salted).

    The kept duplicate is the minimum dedup_tiebreak row — a pure sort key,
    so the result is identical at any parallelism."""
    salted = df.withColumn(
        "_salt", F.pmod(F.col("url_h"), F.lit(salt_buckets)).cast("int")
    ).repartition(F.col("host"), F.col("_salt"))
    w_dedup = Window.partitionBy("host", "_salt", "url_h").orderBy(dedup_tiebreak)
    deduped = salted.withColumn("_dup", F.row_number().over(w_dedup)).filter(
        F.col("_dup") == 1
    )
    return _salted_topk(deduped, k)


def rank_topk_salted(df: DataFrame, k: int, salt_buckets: int = 32) -> DataFrame:
    """Skew-proof exact per-host top-k (G1+G3 fused for hot hosts).

    A plain Window.partitionBy(host) puts a 10^9-row hot host into ONE task.
    Two-phase instead: (1) rank within (host, salt) — salt from url_h, so
    every partition is ~1/S of the host — keep local rank <= k; (2) exactly
    re-rank the <= S*k survivors per host.  Same result as rank() filtered
    to host_rank <= k (G3: a rank filter, never a global sort+limit) for
    any k (each host's true top-k survives phase 1: a row dropped in
    phase 1 has k better rows in its own salt bucket alone), but the big
    window never sees more than max(n_host/S, S*k) rows per task."""
    salted = df.withColumn(
        "_salt", F.pmod(F.col("url_h"), F.lit(salt_buckets)).cast("int")
    )
    return _salted_topk(salted, k)


def _salted_topk(salted: DataFrame, k: int) -> DataFrame:
    """The two salted top-k phases over a frame carrying ``_salt``: (1) keep
    each (host, _salt) bucket's rank <= k; (2) exactly re-rank the <= S*k
    survivors per host.  The phase-1 drop also removes the fused dedup's
    ``_dup`` marker (dropping an absent column is a no-op), so both callers
    keep their original single projection."""
    w1 = Window.partitionBy("host", "_salt").orderBy(*HOST_ORDER)
    survivors = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_dup", "_r1", "_salt")
    )
    w2 = Window.partitionBy("host").orderBy(*HOST_ORDER)
    return survivors.withColumn("host_rank", F.row_number().over(w2)).filter(
        F.col("host_rank") <= k
    )


def _range_bucket_expr(df: DataFrame, order_cols, parts: int):
    """Deterministic range-bucket assignment: sample boundary key tuples
    ONCE driver-side (key columns only — pushdown-friendly, tiny) and embed
    them as literals, so a row's bucket is a pure function of its key and
    any recompute re-buckets identically — no persist / localCheckpoint
    pinning of the data.  Correctness needs only monotonicity (every key in
    bucket i sorts <= every key in bucket i+1); equal keys always share a
    bucket because the comparison is a closed >= on the full key tuple, so
    bucket-rank + offsets is a valid total order for ANY bounds."""
    # native columnar sample (key columns only, JVM-side — never the Python
    # RDD serializer): one cheap count sizes the fraction, exactly as
    # Spark's own RangePartitioner does internally
    k = parts * 32
    n = df.count()
    frac = min(1.0, (k * 1.2 / n) if n else 1.0)
    sample = [
        tuple(r)
        for r in df.select(*order_cols).sample(False, frac, seed=7).limit(k).collect()
        if all(v is not None for v in tuple(r))
    ]
    bounds: list[tuple] = []
    if sample:
        svals = sorted(set(sample))
        step = len(svals) / parts
        seen = set()
        for i in range(1, parts):
            t = svals[min(int(step * i), len(svals) - 1)]
            if t not in seen:
                seen.add(t)
                bounds.append(t)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    key_struct = F.struct(
        *[F.col(c).alias(f"k{i}") for i, c in enumerate(order_cols)]
    )
    bucket = F.lit(0)
    for b in sorted(bounds):
        bstruct = F.struct(
            *[
                F.lit(v).cast(dtypes[c]).alias(f"k{i}")
                for i, (c, v) in enumerate(zip(order_cols, b))
            ]
        )
        bucket = bucket + F.when(key_struct >= bstruct, 1).otherwise(0)
    return bucket, len(bounds) + 1


def assign_global_seq(
    df: DataFrame,
    order_cols=None,
    seq_col: str = "crawl_seq",
    num_parts: int | None = None,
    pin: str = "none",
) -> DataFrame:
    """Deterministic, scalable global sequence assignment (G4).

    A naive row_number over a global Window funnels everything through one
    partition; instead: range-bucket by the key, then per-bucket row_number
    plus a broadcast map of bucket-start offsets.  No single-partition
    stage; survives a 100× scale-up.

    Two pinning modes, because the multi-pass scheme must see a CONSISTENT
    bucketing across its passes:
    - pin="none" (default): explicit literal range bounds sampled once
      driver-side (_range_bucket_expr) — every recompute re-buckets
      identically, so NOTHING is cached or materialized.  Costs FOUR
      upstream executions total (build-time count + bounds sample, then the
      main subtree and the offsets subtree at materialization).  Right
      whenever upstream is a (re)readable table scan: at 10^10 rows
      re-scanning cheap parquet reads beats materializing the table once.
    - pin="local": Spark's own repartitionByRange + spark_partition_id,
      pinned by an eager localCheckpoint (blocks are freed with the frame —
      no session-lifetime cache).  ONE upstream execution total — right when
      upstream is an expensive unmaterialized pipeline (the bench frontier's
      canonicalize→dedup→rank chain; the engine instead checkpoints state to
      parquet each wave, so its reads use pin="none").
    """
    order_cols = order_cols or CANONICAL_ORDER_COLS
    spark = df.sparkSession
    parts = num_parts or spark.sparkContext.defaultParallelism
    oc = [F.col(c) for c in order_cols]
    if pin == "local":
        d = (
            df.repartitionByRange(parts, *oc)
            .withColumn("_pid", F.spark_partition_id())
            .localCheckpoint()
        )
    else:
        bucket, n_buckets = _range_bucket_expr(df, order_cols, parts)
        d = df.withColumn("_pid", bucket).repartition(n_buckets, "_pid")
    # bucket-start offsets: cumsum over the per-bucket counts — the only
    # single-partition stage, bounded by the bucket COUNT (<= parts rows),
    # never by the data
    counts = d.groupBy("_pid").agg(F.count("*").alias("_c"))
    w0 = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_c").over(w0), F.lit(0)).alias("_off")
    )
    w = Window.partitionBy("_pid").orderBy(*oc)
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn(seq_col, (F.col("_off") + F.row_number().over(w)).cast("long"))
        .drop("_pid", "_off")
    )
