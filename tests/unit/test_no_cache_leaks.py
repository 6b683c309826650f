"""Regression guard for session-lifetime cache leaks (round-2 ADVICE): the
operators that used to persist() internally (jaccard pairs, connected
components, LSH buckets, global sequence) must leave ZERO persistent RDDs
behind after their results are materialized."""

from __future__ import annotations

import gc

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_no_persistent_rdds_after_queries(spark, tmp_path):
    from crawlspark import pipeline_queries as pq
    from crawlspark import queries as q
    from crawlspark.engine import CrawlEngine, EngineConfig

    before = _n_persistent(spark)
    # one crawl wave: its persisted pending view and fetch output, and the
    # bloom seen-set's local checkpoint, all end with the wave
    eng = CrawlEngine(
        spark, EngineConfig(n_hotels=10, seen_mode="bloom", take_k=2), str(tmp_path)
    )
    eng.bootstrap()
    assert eng.step()
    del eng
    for key in (
        "q31_jaccard_shingles",
        "q45_neardup_components",
        "q41_ann_lsh",
        "q40_embedding_neardup",
        "q46_tfidf",
    ):
        pq.QUERIES[key](spark, SF).count()
    q.q19_global_order(spark, SF).count()
    # localCheckpoint blocks are freed via GC + the JVM's ASYNC ContextCleaner
    # thread — poll briefly instead of sampling immediately (on this
    # steal-heavy host an instant read can race the cleaner and flake)
    import time

    deadline = time.time() + 30
    while _n_persistent(spark) > before and time.time() < deadline:
        gc.collect()
        time.sleep(1)
    assert _n_persistent(spark) <= before, (
        f"cache leak: {_n_persistent(spark) - before} persistent RDDs left behind"
    )
