"""Engine ⇄ frozen-oracle equality (SURVEY.md §5.3.2, BASELINE.json:14):
exact crawl ordering, final URL-seen set, and per-row span sequences, under
the same seed list and politeness budget — across seen-set implementations
and a kill/resume."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from crawlspark.engine import CrawlEngine, EngineConfig
from oracle_ref import run_oracle

N_HOTELS = 100


@pytest.fixture(scope="module")
def oracle():
    return run_oracle(N_HOTELS)


def _order_seen_docs(eng):
    """Collect the three oracle-comparable outputs from a finished engine."""
    log = eng.crawl_log()
    order = [
        (r["crawl_seq"], r["url"])
        for r in log.orderBy("crawl_seq").select("crawl_seq", "url").collect()
    ]
    seen = {r["url_h"] for r in log.select("url_h").collect()}
    docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in eng.documents().collect()
    }
    return order, seen, docs


def _run_engine(spark, cfg):
    d = tempfile.mkdtemp(prefix="crawlspark_eq_")
    try:
        eng = CrawlEngine(spark, cfg, d)
        eng.run()
        order, seen, docs = _order_seen_docs(eng)
        return order, seen, docs, eng
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _assert_equal(oracle, order, seen, docs):
    assert order == oracle.crawl_order
    assert seen == oracle.seen
    assert docs == oracle.documents


def test_exact_mode(spark, oracle):
    order, seen, docs, _ = _run_engine(spark, EngineConfig(n_hotels=N_HOTELS, seen_mode="exact"))
    _assert_equal(oracle, order, seen, docs)


def test_bloom_mode(spark, oracle):
    order, seen, docs, _ = _run_engine(
        spark, EngineConfig(n_hotels=N_HOTELS, seen_mode="bloom", bloom_partitions=16)
    )
    _assert_equal(oracle, order, seen, docs)


def test_fetch_keeps_salted_partitioning(spark):
    """K1/K3: the fetch runs on the engine's salted repartition, so at a
    salt_partitions other than the default every logged partition_id is
    one of the salt partitions."""
    d = tempfile.mkdtemp(prefix="crawlspark_salt_")
    try:
        eng = CrawlEngine(spark, EngineConfig(n_hotels=20, salt_partitions=8), d)
        eng.run(max_waves=2)  # listing and overview fetches
        pids = [r["partition_id"] for r in eng.crawl_log().select("partition_id").collect()]
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert pids
    assert set(pids) <= set(range(8))


def test_kill_and_resume(spark, oracle):
    """A6: stop after one wave; a NEW engine instance resumes from the last
    committed manifest and the final output is identical."""
    d = tempfile.mkdtemp(prefix="crawlspark_resume_")
    try:
        cfg = EngineConfig(n_hotels=N_HOTELS)
        eng1 = CrawlEngine(spark, cfg, d)
        eng1.bootstrap()
        assert eng1.step()  # wave 0 only, then "die"

        eng2 = CrawlEngine(spark, cfg, d)  # fresh instance, same state dir
        eng2.run()
        log = eng2.crawl_log()
        order = [
            (r["crawl_seq"], r["url"])
            for r in log.orderBy("crawl_seq").select("crawl_seq", "url").collect()
        ]
        assert order == oracle.crawl_order
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_politeness_audit_and_blocked(spark, oracle):
    """G5: inter-fetch gaps respect per-host budgets; robots-blocked URLs are
    exactly the oracle's and never fetched."""
    d = tempfile.mkdtemp(prefix="crawlspark_audit_")
    try:
        eng = CrawlEngine(spark, EngineConfig(n_hotels=N_HOTELS), d)
        eng.run()
        from crawlspark import polite

        wave = eng.store.latest_wave()
        log = eng.store.read_deltas("crawl_log", wave)
        aud = polite.audit(log, eng.budgets)
        assert aud.filter(~F.col("ok")).count() == 0
        retired = eng.store.read_deltas("retired", wave)
        blocked = {r["url"] for r in retired.filter(F.col("state") == "blocked").collect()}
        assert blocked == oracle.blocked
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_take_k_throttled_still_converges(spark, oracle):
    """G3: a per-host per-wave cap changes wave composition but NOT the final
    canonical crawl order, seen set, or documents."""
    order, seen, docs, _ = _run_engine(
        spark, EngineConfig(n_hotels=N_HOTELS, take_k=25)
    )
    _assert_equal(oracle, order, seen, docs)


def test_resume_with_changed_sharding_rejected(spark):
    """The bloom sharding is frozen at bootstrap — resuming with a different
    partition count must fail loudly, never silently corrupt membership."""
    d = tempfile.mkdtemp(prefix="crawlspark_freeze_")
    try:
        cfg = EngineConfig(n_hotels=10, seen_mode="bloom", bloom_partitions=8)
        eng = CrawlEngine(spark, cfg, d)
        eng.bootstrap()
        bad = EngineConfig(n_hotels=10, seen_mode="bloom", bloom_partitions=16)
        with pytest.raises(ValueError, match="bloom_partitions"):
            CrawlEngine(spark, bad, d).bootstrap()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cuckoo_mode(spark, oracle):
    """D3 wired end-to-end: the delete-capable cuckoo seen-set drives the
    engine to the identical crawl order / seen set / documents."""
    order, seen_set, docs, _ = _run_engine(
        spark,
        EngineConfig(n_hotels=N_HOTELS, seen_mode="cuckoo", cuckoo_partitions=16),
    )
    _assert_equal(oracle, order, seen_set, docs)


def test_cuckoo_resume_with_changed_sharding_rejected(spark):
    """The cuckoo sharding is frozen at bootstrap, like the bloom's."""
    d = tempfile.mkdtemp(prefix="crawlspark_ckfreeze_")
    try:
        cfg = EngineConfig(n_hotels=10, seen_mode="cuckoo", cuckoo_partitions=8)
        CrawlEngine(spark, cfg, d).bootstrap()
        bad = EngineConfig(n_hotels=10, seen_mode="cuckoo", cuckoo_partitions=16)
        with pytest.raises(ValueError, match="cuckoo_partitions"):
            CrawlEngine(spark, bad, d).bootstrap()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cuckoo_recrawl_delete_then_refetch(spark, oracle):
    """D3's purpose: after a full crawl, recrawl(keys) deletes the keys from
    the seen set, re-queues them, and the next waves fetch them a SECOND
    time with identical page content; every other URL stays fetched once."""
    d = tempfile.mkdtemp(prefix="crawlspark_recrawl_")
    try:
        cfg = EngineConfig(n_hotels=20, seen_mode="cuckoo")
        eng = CrawlEngine(spark, cfg, d)
        eng.run()
        wave0 = eng.store.latest_wave()
        log0 = eng.store.read_deltas("crawl_log", wave0)
        # pick every 4th fetched overview page to re-crawl
        targets = (
            log0.filter((F.col("kind") == "overview") & (F.pmod(F.col("url_h"), F.lit(4)) == 0))
            .select("url_h")
            .distinct()
        )
        n_targets = targets.count()
        assert n_targets > 0
        assert eng.recrawl(targets) == n_targets
        assert eng.step()  # the re-queued batch is fetched again
        while eng.step():  # drain any remainder
            pass
        wave1 = eng.store.latest_wave()
        log1 = eng.store.read_deltas("crawl_log", wave1)
        counts = log1.groupBy("url_h").count().toPandas().set_index("url_h")["count"]
        twice = set(counts[counts == 2].index)
        expect_twice = {r["url_h"] for r in targets.collect()}
        assert twice == expect_twice
        assert (counts.drop(list(twice)) == 1).all()
        # the re-fetch reproduces identical spans per doc (deterministic pages)
        spans = eng.store.read_deltas("spans", wave1)
        per_doc = (
            spans.groupBy("doc_id")
            .agg(F.count_distinct(F.concat_ws("|", "kind", "text", F.col("offset").cast("string"))).alias("n_u"),
                 F.count("*").alias("n"))
        )
        # every doc's span multiset is self-consistent (re-fetch == fetch)
        dup_docs = per_doc.filter(F.col("n") > F.col("n_u") * 2).count()
        assert dup_docs == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_delta_frontier_rebase_layout_and_equality(spark, oracle):
    """Delta frontier with aggressive rebasing: results identical AND the
    on-disk layout proves the merge-on-read contract — full pending
    snapshots exist ONLY at bootstrap + rebase points (never per wave),
    per-wave writes are add/retire deltas only."""
    import os

    d = tempfile.mkdtemp(prefix="crawlspark_rebase_")
    try:
        eng = CrawlEngine(
            spark,
            EngineConfig(n_hotels=N_HOTELS, take_k=25, frontier_merge_every=2),
            d,
        )
        eng.run()
        log = eng.crawl_log()
        order = [
            (r["crawl_seq"], r["url"])
            for r in log.orderBy("crawl_seq").select("crawl_seq", "url").collect()
        ]
        seen = {r["url_h"] for r in log.select("url_h").collect()}
        docs = {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            for r in eng.documents().collect()
        }
        _assert_equal(oracle, order, seen, docs)
        last = eng.store.latest_wave()
        assert last >= 4  # enough waves for rebases to actually fire
        snap_waves = {
            int(e.split("=")[1]) for e in os.listdir(os.path.join(d, "frontier"))
        }
        add_waves = {
            int(e.split("=")[1]) for e in os.listdir(os.path.join(d, "frontier_add"))
        }
        # a snapshot per wave would mean the O(live-set) rewrite is back
        assert len(snap_waves) < last, f"full snapshot every wave: {snap_waves}"
        expected_rebases = {w for w in range(2, last + 1, 2)}
        assert snap_waves - {0} == expected_rebases
        # every completed wave wrote its adds as a delta
        assert add_waves >= {w for w in range(1, last + 1)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_delta_frontier_resume_across_rebase(spark, oracle):
    """Kill after a mid-crawl rebase; a fresh engine resumes from the rebase
    snapshot + later deltas and finishes with identical output."""
    d = tempfile.mkdtemp(prefix="crawlspark_rebase_resume_")
    try:
        cfg = EngineConfig(n_hotels=N_HOTELS, take_k=25, frontier_merge_every=2)
        eng1 = CrawlEngine(spark, cfg, d)
        eng1.bootstrap()
        assert eng1.step() and eng1.step()
        eng1._merge_frontier()  # rebase at wave 2, then "die"

        eng2 = CrawlEngine(spark, cfg, d)
        eng2.run()
        log = eng2.crawl_log()
        order = [
            (r["crawl_seq"], r["url"])
            for r in log.orderBy("crawl_seq").select("crawl_seq", "url").collect()
        ]
        assert order == oracle.crawl_order
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_delta_frontier_crashed_rebase_ignored(spark, oracle):
    """A rebase killed mid-write leaves a marker-less snapshot dir; the
    pending view must fall back to the previous complete snapshot + deltas
    and still produce the oracle's crawl."""
    import os

    d = tempfile.mkdtemp(prefix="crawlspark_rebase_crash_")
    try:
        cfg = EngineConfig(n_hotels=N_HOTELS, take_k=25)
        eng1 = CrawlEngine(spark, cfg, d)
        eng1.bootstrap()
        assert eng1.step() and eng1.step()
        # simulate a rebase that died before committing its _SUCCESS marker
        fake = os.path.join(d, "frontier", "wave=2")
        os.makedirs(fake)
        with open(os.path.join(fake, "part-garbage.parquet"), "wb") as fh:
            fh.write(b"not a parquet file")
        assert eng1.store.latest_snapshot_wave("frontier", 2) == 0

        eng2 = CrawlEngine(spark, cfg, d)
        eng2.run()
        log = eng2.crawl_log()
        order = [
            (r["crawl_seq"], r["url"])
            for r in log.orderBy("crawl_seq").select("crawl_seq", "url").collect()
        ]
        assert order == oracle.crawl_order
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _priority_df(spark, n_hotels=N_HOTELS):
    """Deterministic non-constant host-priority table (stand-in for q71's
    -pagerank / q72's -revisit_priority): 5 priority classes keyed off the
    host hash.  Lower sorts first per the EngineConfig contract."""
    from crawlspark import fixtures

    return (
        fixtures.initial_frontier_df(spark, n_hotels)
        .select("host")
        .distinct()
        .withColumn(
            "host_priority",
            (F.pmod(F.xxhash64("host"), F.lit(5)) - F.lit(2)).cast("double"),
        )
    )


def _adaptive_expected(rows, pmap):
    """The adaptive crawl order recomputed driver-side as a PURE sort:
    (host_priority, ord_phase, listing_rank, depth, page_offset, host,
    url_h) — the engine's scheduling key reproduced independently."""

    def key(r):
        phase = 0 if r["kind"] == "listing" else 1
        return (
            pmap.get(r["host"], 0.0),
            phase,
            r["listing_rank"],
            r["depth"],
            r["page_offset"],
            r["host"],
            r["url_h"],
        )

    return [r["url"] for r in sorted(rows, key=key)]


_LOG_KEY_COLS = [
    "crawl_seq", "url", "host", "kind", "listing_rank",
    "depth", "page_offset", "url_h", "host_priority",
]


def test_priority_table_adaptive_order(spark, oracle):
    """The q71/q72 loop closed: EngineConfig(priority_table=...) reorders the
    crawl by host authority while the fetched set, documents, and per-host
    politeness clocks stay exactly the oracle's — the priority is a pure
    leading sort-key component, nothing else."""
    prio = _priority_df(spark)
    pmap = {r["host"]: r["host_priority"] for r in prio.collect()}
    assert len(set(pmap.values())) > 1  # non-degenerate signal
    d = tempfile.mkdtemp(prefix="crawlspark_prio_")
    try:
        eng = CrawlEngine(
            spark, EngineConfig(n_hotels=N_HOTELS, priority_table=prio), d
        )
        eng.run()
        log = eng.crawl_log()
        rows = log.select(*_LOG_KEY_COLS).collect()
        got = [r["url"] for r in sorted(rows, key=lambda r: r["crawl_seq"])]
        assert got == _adaptive_expected(rows, pmap)
        # the join carried the configured signal verbatim (default for
        # hosts outside the table)
        assert all(
            abs(r["host_priority"] - pmap.get(r["host"], 0.0)) < 1e-12 for r in rows
        )
        # scheduling policy must not change WHAT was crawled
        assert {r["url_h"] for r in rows} == oracle.seen
        assert _order_seen_docs(eng)[2] == oracle.documents
        # and it is a genuine reorder, not accidentally the static order
        assert got != [u for _, u in oracle.crawl_order]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_wave_k_admission_still_converges(spark, oracle):
    """Global per-wave admission budget (capacity-bound crawl): wave
    composition is capped at wave_k rows, but the final canonical order,
    seen set, and documents equal the uncapped oracle's — admission is a
    per-host prefix, so the token-bucket clock never notices."""
    d = tempfile.mkdtemp(prefix="crawlspark_wavek_")
    try:
        eng = CrawlEngine(spark, EngineConfig(n_hotels=N_HOTELS, wave_k=150), d)
        eng.run()
        order, seen, docs = _order_seen_docs(eng)
        _assert_equal(oracle, order, seen, docs)
        raw = eng.store.read_deltas("crawl_log", eng.store.latest_wave())
        per_wave = {
            r["wave"]: r["n"]
            for r in raw.groupBy("wave").agg(F.count("*").alias("n")).collect()
        }
        assert max(per_wave.values()) <= 150
        assert len(per_wave) >= 2  # the cap actually throttled the drain
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_wave_k_with_priority_drains_by_authority(spark, oracle):
    """wave_k + priority_table together: the capacity-bound adaptive crawl.
    Admission is priority-ordered, the final order is the adaptive sort,
    and the fetched set/documents are still exactly the oracle's."""
    prio = _priority_df(spark)
    pmap = {r["host"]: r["host_priority"] for r in prio.collect()}
    d = tempfile.mkdtemp(prefix="crawlspark_adaptk_")
    try:
        eng = CrawlEngine(
            spark,
            EngineConfig(n_hotels=N_HOTELS, priority_table=prio, wave_k=150),
            d,
        )
        eng.run()
        log = eng.crawl_log()
        rows = log.select(*_LOG_KEY_COLS, "wave").collect()
        got = [r["url"] for r in sorted(rows, key=lambda r: r["crawl_seq"])]
        assert got == _adaptive_expected(rows, pmap)
        assert {r["url_h"] for r in rows} == oracle.seen
        # per-wave cap held
        from collections import Counter

        per_wave = Counter(r["wave"] for r in rows)
        assert max(per_wave.values()) <= 150
        # priority-ordered admission: among wave-0 seed listings (all pending
        # from the start, so admission alone decides), every fetched-first
        # class beats the classes behind it — i.e. the best (lowest) priority
        # seed listing NOT fetched in wave 0 is >= the worst fetched in it.
        seed0 = [r for r in rows if r["kind"] == "listing" and r["depth"] == 0]
        if seed0 and len({pmap.get(r["host"], 0.0) for r in seed0}) > 1:
            w0 = min(r["wave"] for r in seed0)
            in0 = [pmap.get(r["host"], 0.0) for r in seed0 if r["wave"] == w0]
            later = [pmap.get(r["host"], 0.0) for r in seed0 if r["wave"] > w0]
            if later:
                assert max(in0) <= min(later) + 1e-12
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_pagerank_priority_feedback_loop(spark, oracle):
    """The full q71 -> engine loop through the shipped helper: PageRank a
    host link graph, convert with graph.priority_from_pagerank, feed it to
    EngineConfig(priority_table=...) — crawl order is the pure adaptive
    sort under the REAL ranks, fetched set and documents are the oracle's."""
    from crawlspark import fixtures, graph

    hosts = fixtures.initial_frontier_df(spark, N_HOTELS).select("host").distinct()
    # deterministic synthetic link graph over the crawl's own hosts: each
    # host links to two hash-derived neighbors (stands in for q64/q65's
    # extracted edges)
    h2 = hosts.select(F.col("host").alias("dst"), F.xxhash64("host").alias("x"))
    edges = (
        hosts.withColumn("x", F.pmod(F.xxhash64("host"), F.lit(997)))
        .crossJoin(h2.select(F.col("dst"), F.pmod(F.col("x"), F.lit(997)).alias("y")))
        .filter(F.pmod(F.col("x") + F.col("y"), F.lit(7)) < 2)
        .filter(F.col("host") != F.col("dst"))
        .select(F.col("host").alias("src"), "dst")
    )
    prio = graph.priority_from_pagerank(edges, n_rounds=2).localCheckpoint()
    pmap = {r["host"]: r["host_priority"] for r in prio.collect()}
    assert len(set(pmap.values())) > 1  # ranks actually differentiate hosts
    d = tempfile.mkdtemp(prefix="crawlspark_prfeed_")
    try:
        eng = CrawlEngine(
            spark, EngineConfig(n_hotels=N_HOTELS, priority_table=prio), d
        )
        eng.run()
        rows = eng.crawl_log().select(*_LOG_KEY_COLS).collect()
        got = [r["url"] for r in sorted(rows, key=lambda r: r["crawl_seq"])]
        assert got == _adaptive_expected(rows, pmap)
        assert {r["url_h"] for r in rows} == oracle.seen
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_recrawl_hosts_bulk_refetch(spark):
    """recrawl_hosts (the q72-driven bulk form): every completed URL on the
    targeted hosts is fetched a second time, everything else exactly once."""
    d = tempfile.mkdtemp(prefix="crawlspark_rchosts_")
    try:
        eng = CrawlEngine(
            spark, EngineConfig(n_hotels=20, seen_mode="cuckoo"), d
        )
        eng.run()
        wave0 = eng.store.latest_wave()
        log0 = eng.store.read_deltas("crawl_log", wave0)
        all_hosts = sorted(r["host"] for r in log0.select("host").distinct().collect())
        targets = all_hosts[:2]
        expect_twice = {
            r["url_h"]
            for r in log0.filter(F.col("host").isin(targets)).select("url_h").collect()
        }
        hosts_df = spark.createDataFrame([(h,) for h in targets], "host string")
        assert eng.recrawl_hosts(hosts_df) == len(expect_twice) > 0
        while eng.step():
            pass
        log1 = eng.store.read_deltas("crawl_log", eng.store.latest_wave())
        counts = log1.groupBy("url_h").count().toPandas().set_index("url_h")["count"]
        assert set(counts[counts == 2].index) == expect_twice
        assert (counts.drop(list(expect_twice)) == 1).all()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_wave_k_zero_rejected(spark):
    """A zero/negative admission budget is a loud error, never a silent
    no-cap — refused at CONSTRUCTION, before bootstrap writes any state."""
    import os

    d = tempfile.mkdtemp(prefix="crawlspark_wavek_zero_")
    try:
        with pytest.raises(ValueError, match="positive"):
            CrawlEngine(spark, EngineConfig(n_hotels=10, wave_k=0), d)
        assert not os.listdir(d), "rejected config must write no state"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_resume_of_snapshot_layout_rejected(spark):
    """A state dir whose wave-0 manifest records frontier_mode="snapshot"
    (the rewrite-every-wave layout) must not be read as merge-on-read: its
    per-wave frontier snapshots would be taken for rebase points.  Resume
    raises instead."""
    import json
    import os

    d = tempfile.mkdtemp(prefix="crawlspark_snapshot_layout_")
    try:
        cfg = EngineConfig(n_hotels=10)
        CrawlEngine(spark, cfg, d).bootstrap()
        path = os.path.join(d, "manifest-00000.json")
        with open(path) as fh:
            manifest = json.load(fh)
        assert manifest["config"]["frontier_mode"] == "delta"
        manifest["config"]["frontier_mode"] = "snapshot"
        with open(path, "w") as fh:
            json.dump(manifest, fh)
        with pytest.raises(ValueError, match="frontier_mode"):
            CrawlEngine(spark, cfg, d).bootstrap()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_fresh_crawl_reads_no_wave0_host_counts(spark, tmp_path):
    """Wave 0 has fetched nothing, so its host counts are None without a
    host_counts or crawl_log read (a missing-table read would log a stack
    trace on every fresh crawl)."""
    eng = CrawlEngine(spark, EngineConfig(n_hotels=10), str(tmp_path))
    reads = []
    eng.store.read_snapshot = lambda *args: reads.append(args)
    eng.store.read_deltas = lambda *args: reads.append(args)
    assert eng._host_counts(0) is None
    assert reads == []


def test_resume_with_changed_merge_cadence_ok(spark):
    """frontier_merge_every is POLICY, not frozen sharding state: resuming
    with a different cadence must succeed (unlike bloom/cuckoo geometry or
    frontier_mode) and the new cadence must actually apply."""
    import os

    d = tempfile.mkdtemp(prefix="crawlspark_cadence_")
    try:
        eng1 = CrawlEngine(
            spark, EngineConfig(n_hotels=10, frontier_merge_every=50), d
        )
        eng1.bootstrap()
        assert eng1.step()
        # resume with a much tighter cadence — must not raise
        eng2 = CrawlEngine(
            spark, EngineConfig(n_hotels=10, frontier_merge_every=2), d
        )
        eng2.run()
        snap_waves = {
            int(e.split("=")[1])
            for e in os.listdir(os.path.join(d, "frontier"))
            if e.startswith("wave=")
        }
        assert snap_waves - {0}, "tightened cadence never rebased"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_rebase_fires_across_single_wave_runs(spark):
    """The rebase cadence keys off PERSISTENT state (delta backlog since the
    last snapshot), so a resume-heavy drive — a fresh engine per wave, each
    run(max_waves=1) — still rebases; an in-process wave counter would reset
    every run and never fire (ADVICE r3 #1)."""
    import os

    d = tempfile.mkdtemp(prefix="crawlspark_rebase_resume_heavy_")
    try:
        cfg = EngineConfig(n_hotels=10, frontier_merge_every=2)
        for _ in range(4):
            CrawlEngine(spark, cfg, d).run(max_waves=1)
        snap_waves = {
            int(e.split("=")[1])
            for e in os.listdir(os.path.join(d, "frontier"))
            if e.startswith("wave=")
        }
        assert snap_waves - {0}, (
            "delta backlog never rebased under single-wave resume drive"
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compacting_run_identical(spark, oracle):
    """Periodic delta compaction mid-run is a pure file-layout rewrite: the
    crawl order, seen set, and span sequences must be byte-identical to the
    oracle (and thus to every non-compacting config)."""
    order, seen, docs, _ = _run_engine(
        spark, EngineConfig(n_hotels=N_HOTELS, compact_every=2)
    )
    _assert_equal(oracle, order, seen, docs)


def test_crawl_log_schema_is_config_invariant(spark, oracle):
    """host_priority is part of the crawl_log schema in EVERY config
    (literal default_host_priority when no table is set) — a consumer
    written against the static shape survives turning the adaptive policy
    on (driver-ADVICE r4).  The static order itself must stay the
    oracle's."""
    d = tempfile.mkdtemp(prefix="crawlspark_schema_")
    try:
        eng = CrawlEngine(spark, EngineConfig(n_hotels=N_HOTELS), d)
        eng.run(max_waves=2)
        static_log = eng.crawl_log()
        assert "host_priority" in static_log.columns
        vals = {r["host_priority"] for r in static_log.select("host_priority").collect()}
        assert vals == {0.0}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    d2 = tempfile.mkdtemp(prefix="crawlspark_schema_")
    try:
        eng2 = CrawlEngine(
            spark,
            EngineConfig(n_hotels=N_HOTELS, priority_table=_priority_df(spark)),
            d2,
        )
        eng2.run(max_waves=2)
        assert eng2.crawl_log().columns == static_log.columns
    finally:
        shutil.rmtree(d2, ignore_errors=True)
