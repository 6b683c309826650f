"""The fixed cost of a crawl wave: a re-run wave compiles no new classes and
stays under a recorded job ceiling, the state store's known schemas read
exactly like parquet inference, the discovery rows the engine no longer
dedups itself are identical per url_h, and the engine's constant frames are
JVM plans, so an exact-mode wave scans no Python RDD."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

import numpy as np

from crawlspark import fetch, fixtures, pagegen, seen
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


def _scans_python_rdd(df) -> bool:
    return "LogicalRDD" in df._jdf.queryExecution().analyzed().toString()


def _assert_jvm_twin(got, want) -> None:
    """`got` has no Python RDD in its plan, and the rows and schema of the
    createDataFrame frame `want`."""
    assert _scans_python_rdd(want)
    assert not _scans_python_rdd(got), got.schema
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_engine_constant_frames_are_jvm_plans(spark, tmp_path):
    """The robots rules, the politeness budgets and both empty seen states
    are built without a Python RDD, with the rows and schema (nullability
    included) that createDataFrame gave them.  The exact-mode empty key
    frame is checked in the wave test below."""
    cfg = EngineConfig(n_hotels=20)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "state"))
    robots_ref = spark.createDataFrame(
        [
            (
                h,
                pagegen.DISALLOW_PREFIXES if h in pagegen.ROBOTS_HOSTS else [],
                pagegen.CRAWL_DELAY_MS if h == pagegen.CRAWL_DELAY_HOST else None,
            )
            for h in pagegen.HOSTS
        ],
        "host string, disallow_prefix array<string>, crawl_delay_ms int",
    )
    budget_ref = spark.createDataFrame(
        [(h, 0.5 if h == pagegen.HOT_HOST else 2.0, 4) for h in pagegen.HOSTS],
        "host string, max_rps double, burst int",
    )
    p, m, nb = cfg.bloom_partitions, cfg.bloom_m, cfg.cuckoo_buckets
    bloom_ref = spark.createDataFrame(
        [(i, bytearray(m // 8), 0, 0.0) for i in range(p)], seen.STATE_SCHEMA
    )
    cuckoo_ref = spark.createDataFrame(
        [(i, np.zeros((nb, 4), dtype=np.uint16).tobytes(), nb) for i in range(p)],
        seen.CUCKOO_STATE_SCHEMA,
    )
    for got, want in [
        (eng.robots_rules, robots_ref),
        (eng.budgets, budget_ref),
        (seen.empty_state(spark, p, m, cfg.bloom_k), bloom_ref),
        (seen.cuckoo_empty_state(spark, p, nb), cuckoo_ref),
    ]:
        _assert_jvm_twin(got, want)


def _recent_execution_plans(spark, n: int = 200) -> dict[int, str]:
    """Physical plans of the session's newest `n` SQL executions (the
    status store keeps them with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList(max(0, store.executionsCount() - n), n)
    return {
        int(e.executionId()): str(e.physicalPlanDescription())
        for e in (execs.apply(i) for i in range(execs.size()))
    }


def test_exact_mode_wave_scans_no_python_rdd(spark, tmp_path, monkeypatch):
    """No SQL execution of an exact-mode bootstrap or wave scans an RDD
    (`Scan ExistingRDD`): a createDataFrame(list) frame would be scanned
    by Python worker tasks on every action that reads it.  Bloom and cuckoo
    waves scan their cogroup's local checkpoint as an RDD, so this holds
    for exact mode only.  The bootstrap's empty key frame is a JVM plan
    with createDataFrame's rows and schema."""
    keys = []
    dedup_exact = seen.dedup_exact
    monkeypatch.setattr(
        seen, "dedup_exact", lambda df, k: keys.append(k) or dedup_exact(df, k)
    )
    eng = CrawlEngine(spark, EngineConfig(n_hotels=20), str(tmp_path / "state"))
    last = max(_recent_execution_plans(spark, 1), default=-1)
    eng.bootstrap()
    assert eng.step()
    new = {i: p for i, p in _recent_execution_plans(spark).items() if i > last}
    assert 5 <= len(new) < 200, sorted(new)  # the window held every new one
    scans = sorted(i for i, p in new.items() if "Scan ExistingRDD" in p)
    assert not scans, [new[i] for i in scans[:1]]
    # bootstrap tests its candidates against the empty keys; the wave
    # against the keys it wrote
    assert len(keys) == 2
    _assert_jvm_twin(keys[0], spark.createDataFrame([], "url_h long"))
