"""The fixed cost of a crawl wave: a re-run wave compiles no new classes and
stays under a recorded job ceiling, the state store's known schemas read
exactly like parquet inference, and the discovery rows the engine no longer
dedups itself are identical per url_h."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from crawlspark import fetch, fixtures
from crawlspark.engine import CrawlEngine, EngineConfig
from crawlspark.state import StateStore

# Spark jobs of one take_k bloom wave with frontier deltas on local[8]
# (26 measured; the layout before the wave's redundant jobs were cut ran 36)
WAVE_JOB_CEILING = 26


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_rerun_wave_compiles_nothing_and_stays_under_job_ceiling(spark, tmp_path):
    """Run wave 1 of a small bloom crawl, drop its manifest (a crash after
    the state writes, before the commit) and run it again: the second run
    has the same plans, so every generated class must come from the codegen
    cache, and its job count must stay at or under the ceiling.  A cache
    smaller than one wave's classes recompiles the whole wave."""
    root = str(tmp_path / "state")
    eng = CrawlEngine(
        spark,
        EngineConfig(n_hotels=20, seen_mode="bloom", take_k=3, frontier_merge_every=None),
        root,
    )
    eng.bootstrap()
    assert eng.step() and eng.step()
    os.remove(os.path.join(root, "manifest-00002.json"))
    assert eng.store.latest_wave() == 1

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    compiled = _compiles(spark)
    sc.setJobGroup("rerun-wave", "re-run of wave 1")
    try:
        assert eng.step()
    finally:
        sc.setJobGroup("", "")
    assert _compiles(spark) - compiled == 0
    jobs = len(tracker.getJobIdsForGroup("rerun-wave"))
    assert 0 < jobs <= WAVE_JOB_CEILING, jobs


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def test_state_reads_match_an_inferring_store(spark, tmp_path):
    """After a bloom crawl with a rebase and a compaction, every table read
    through the engine's store (known schemas) has the same schema and rows
    as through a fresh store that infers them; a missing table still
    raises, which the host-counts fallback for older layouts relies on."""
    root = str(tmp_path / "state")
    eng = CrawlEngine(
        spark,
        EngineConfig(n_hotels=10, seen_mode="bloom", frontier_merge_every=2),
        root,
    )
    assert eng.run(max_waves=3) == 3
    assert eng.store.latest_snapshot_wave("frontier", 3) == 2  # rebased
    store = eng.store
    delta_tables = ("crawl_log", "spans", "retired", "frontier_add")
    for table in delta_tables:
        assert store.compact_deltas(table) > 0

    snapshot_tables = ("frontier", "host_counts", "seen_bloom")
    assert set(snapshot_tables + delta_tables) <= set(store._schemas)
    for table in snapshot_tables + delta_tables:
        waves = sorted(
            int(e.split("=")[1])
            for e in os.listdir(os.path.join(root, table))
            if e.startswith("wave=")
        )
        for w in waves:
            got = store.read_snapshot(table, w)
            want = StateStore(spark, root).read_snapshot(table, w)
            assert got.schema == want.schema, (table, w)
            assert _rows(got) == _rows(want), (table, w)
        if table in delta_tables:
            got = store.read_deltas(table, waves[-1])
            want = StateStore(spark, root).read_deltas(table, waves[-1])
            assert got.schema == want.schema, table
            assert _rows(got) == _rows(want), table

    last = store.latest_wave()
    with pytest.raises(Exception):
        store.read_snapshot("host_counts", last + 1)
    # the old-layout fallback: with no host_counts table, the counts are
    # re-aggregated from the crawl log, and agree with the snapshot
    counts = _rows(store.read_snapshot("host_counts", last))
    shutil.rmtree(os.path.join(root, "host_counts"))
    assert _rows(eng._host_counts(last).select("host", "n_prior")) == counts


def test_discoveries_are_one_distinct_row_per_url(spark):
    """fetch.discoveries may emit a URL twice (the listing-page overlap row
    re-discovers the previous page's last hotel), but every copy is the
    same full row, so whichever copy a within-batch dedup keeps is the
    same frontier row."""
    seeds = fixtures.seed_hotels_df(spark, 100)
    listings = fixtures.initial_frontier_df(spark, 100)
    overviews = fetch.discoveries(listings, seeds, 1)
    batch = listings.unionByName(overviews)
    disc = fetch.discoveries(batch, seeds, 2)

    n_rows = disc.count()
    n_urls = disc.select("url_h").distinct().count()
    assert n_rows > n_urls  # the overlap rows are there
    per_url = disc.distinct().groupBy("url_h").agg(F.count("*").alias("n"))
    assert per_url.filter(F.col("n") != 1).count() == 0
    assert per_url.count() == n_urls
