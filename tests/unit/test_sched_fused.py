"""dedup_rank_topk_fused (sched): must equal dropDuplicates + rank + a
host_rank <= k filter exactly, on one pre-top-k exchange, at any parallelism."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from crawlspark import sched, urlkit


def _frontier(spark, n=20000):
    base = int(n * 0.8)
    df = spark.range(n).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(base)).alias("uid")
    )
    url = F.concat(
        F.lit("https://h"),
        F.pmod(F.col("uid"), F.lit(7)).cast("string"),
        F.lit(".com/p"),
        F.col("uid").cast("string"),
        F.when(F.col("id") >= base, F.lit("#dup")).otherwise(F.lit("")),
    )
    return (
        df.select("uid", url.alias("url"))
        .withColumn("url_canon", urlkit.canonicalize(F.col("url")))
        .withColumn("url_h", urlkit.hash64(F.col("url_canon")))
        .withColumn("host", urlkit.host(F.col("url")))
        .withColumn("kind", F.lit("overview"))
        .withColumn("priority", F.lit(1))
        .withColumn("depth", F.lit(1))
        .withColumn("listing_rank", F.col("uid").cast("int"))
        .withColumn("page_offset", F.lit(0))
    )


def test_fused_equals_unfused(spark):
    fr = _frontier(spark)
    fused = (
        sched.dedup_rank_topk_fused(fr, 100)
        .select("url_h", "host_rank")
        .toPandas()
        .sort_values("url_h")
        .reset_index(drop=True)
    )
    unfused = (
        sched.rank(fr.dropDuplicates(["url_h"]))
        .filter(F.col("host_rank") <= 100)
        .select("url_h", "host_rank")
        .toPandas()
        .sort_values("url_h")
        .reset_index(drop=True)
    )
    assert fused.equals(unfused)
    assert len(fused) == 700  # 7 hosts x k=100


def test_fused_parallelism_invariant(spark):
    fr = _frontier(spark)
    a = sched.dedup_rank_topk_fused(fr, 50).select("url_h", "host_rank")
    b = sched.dedup_rank_topk_fused(fr.repartition(13), 50).select("url_h", "host_rank")
    pa = a.toPandas().sort_values("url_h").reset_index(drop=True)
    pb = b.toPandas().sort_values("url_h").reset_index(drop=True)
    assert pa.equals(pb)


def test_fused_plan_single_exchange_before_phase2(spark):
    fr = _frontier(spark)
    out = sched.dedup_rank_topk_fused(fr, 100)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    # exactly two data exchanges: (host, _salt) for dedup+phase-1 (shared),
    # (host) for phase 2 — plus Spark pushes the top-k map-side
    assert plan.count("Exchange hashpartitioning") == 2
    assert "WindowGroupLimit" in plan