"""The crawl-wave engine (SURVEY.md §3.2): the reference's sequential
``while pending: fetch-parse-append`` loop re-expressed as deterministic,
resumable micro-batch waves of DataFrame dataflow.

One wave = one batch DAG:

    frontier scan -> pending filter -> robots broadcast join -> budget join
    -> per-host window rank -> top-k -> token-bucket schedule -> salted
    repartition -> fetch (native exprs) -> span rows + crawl
    log -> fanout discoveries -> seen-set step (within-batch dedup on url_h,
    then exact anti-join | partitioned bloom | cuckoo) -> frontier merge ->
    per-partition checkpoint.

Determinism: every ordering is a pure sort key; the canonical crawl order
(sched.CANONICAL_ORDER_COLS) reproduces the sequential reference's exact
fetch order at ANY parallelism — equality vs tests/oracle_ref.py is the
correctness gate (BASELINE.json:14).

Scale: state round-trips through partitioned parquet each wave (Iceberg
snapshots in production), so lineage stays one wave deep; crawl_log/spans/
seen-deltas are append-only wave partitions.  The frontier itself is
merge-on-read: a wave appends only its own adds (frontier_add) and removals
(the retired log, doubling as an equality-delete log), the pending view is
reconstructed last-op-wins per url_h, and a periodic rebase folds the deltas
into a fresh snapshot — the Iceberg MERGE + delete-rewrite discipline, so
per-wave write cost is O(changes), never O(live frontier).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark import assemble, fetch, fixtures, metrics, polite, robots, sched, seen
from crawlspark.state import StateStore

LOG_COLS = [
    "url_h",
    "url",
    "host",
    "kind",
    "hotel_id",
    "listing_rank",
    "page_offset",
    "depth",
    "wave",
    "fetched_at",
    "partition_id",
]

_SEEN_KEY_SCHEMA = "url_h long"


@dataclass
class EngineConfig:
    n_hotels: int = 100
    seen_mode: str = "exact"  # "exact" | "bloom" | "cuckoo"
    bloom_partitions: int = 16
    bloom_m: int = 1 << 17
    bloom_k: int = 7
    cuckoo_partitions: int = 16  # D3: delete-capable seen-set sharding
    cuckoo_buckets: int = 1 << 13
    take_k: int | None = None  # per-host per-wave cap (G3); None = drain
    salt_partitions: int = 16  # K1: fetch-stage salting
    compact_every: int | None = None  # compact delta tables every N waves
    # Rebase cadence: fold frontier deltas into a fresh snapshot once the
    # delta BACKLOG (committed waves since the last snapshot, read from
    # persistent state — never an in-process counter, so resume-heavy drive
    # patterns like repeated run(max_waves=1) still rebase) reaches this many
    # waves.  POLICY, not frozen state: safe to change on resume — it only
    # decides when the merge-on-read view is materialized, never what it
    # contains (asserted by test_resume_with_changed_merge_cadence_ok).
    frontier_merge_every: int | None = 8
    # Adaptive-crawl priority (closes the q71/q72 loop): an optional
    # (host, host_priority double) table — lower sorts FIRST, so feed e.g.
    # host_priority = -pagerank or -revisit_priority.  When set, step() joins
    # it onto the wave's candidates (broadcast: the table is host-cardinality)
    # and the canonical global crawl order becomes
    # (host_priority, *sched.CANONICAL_ORDER_COLS) — high-authority hosts are
    # fetched first, and the order stays a PURE sort key (parallelism-
    # invariant, resumable).  Hosts absent from the table get
    # default_host_priority.  Policy, not frozen state — like take_k, it
    # changes the schedule, never the fetched set or the per-host politeness
    # clock (host_priority is host-constant, so within-host order and the
    # token-bucket offsets are untouched).
    priority_table: DataFrame | None = field(default=None, repr=False, compare=False)
    default_host_priority: float = 0.0
    # Global per-wave admission budget (requires priority_table to be useful,
    # valid without): each wave fetches only the top wave_k candidate rows in
    # (host_priority, per-host order) — the capacity-bound adaptive crawl,
    # where high-rank hosts drain in earlier waves.  Like take_k, wave
    # COMPOSITION changes but the final canonical order / seen set /
    # documents do not (equality-suite-asserted).
    wave_k: int | None = None


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: EngineConfig, state_dir: str):
        # fail fast on contradictory config — BEFORE bootstrap writes any
        # on-disk state (a step()-time check would leave a wave-0 manifest
        # with the bad config frozen in)
        if cfg.wave_k is not None and cfg.wave_k <= 0:
            raise ValueError(f"wave_k must be positive, got {cfg.wave_k}")
        self.spark = spark
        self.cfg = cfg
        self.store = StateStore(spark, state_dir)
        self.seeds = fixtures.seed_hotels_df(spark, cfg.n_hotels)
        self.robots_rules = fixtures.robots_rules_df(spark)
        self.budgets = fixtures.politeness_budget_df(spark)

    # ------------------------------------------------------------------ state

    def _frozen_config(self) -> dict:
        """The config recorded in the wave-0 manifest and checked on resume.
        frontier_mode is always "delta" (merge-on-read); it stays recorded so
        a state dir written with the old "snapshot" layout, whose per-wave
        frontier snapshots this engine cannot read, is rejected on resume."""
        cfg = self.cfg
        return {
            "seen_mode": cfg.seen_mode,
            "bloom_partitions": cfg.bloom_partitions,
            "bloom_m": cfg.bloom_m,
            "bloom_k": cfg.bloom_k,
            "cuckoo_partitions": cfg.cuckoo_partitions,
            "cuckoo_buckets": cfg.cuckoo_buckets,
            "n_hotels": cfg.n_hotels,
            "frontier_mode": "delta",
        }

    def bootstrap(self) -> int:
        """Create wave-0 state (or return the wave to resume from — exact
        resume from the last committed manifest, BASELINE.json:14)."""
        last = self.store.latest_wave()
        if last is not None:
            # the seen-set sharding is FROZEN at bootstrap: bloom shard i
            # owns pmod(url_h, P) == i, so resuming with a different P (or
            # mode/bit-geometry) would silently corrupt membership.  The
            # manifest is authoritative; mismatch is a hard error.
            frozen = self.store.manifest(0).get("config", {})
            for key, val in self._frozen_config().items():
                if key in frozen and frozen[key] != val:
                    raise ValueError(
                        f"resume config mismatch: manifest has {key}="
                        f"{frozen[key]}, engine configured {val}; the "
                        f"seen-set sharding and frontier layout are frozen "
                        f"at bootstrap"
                    )
            return last
        fr = fixtures.initial_frontier_df(self.spark, self.cfg.n_hotels)
        self.store.write_snapshot(fr, "frontier", 0)
        # seed the seen-set with the bootstrap URLs (frontier membership)
        self._filter_seen(fr.select("url_h"), None)
        self.store.commit(0, {"config": self._frozen_config()})
        return 0

    def _filter_seen(self, cand: DataFrame, wave: int | None) -> DataFrame:
        """The seen-set step, the engine's one seen_mode dispatch: return the
        rows of `cand` not seen before and write the next seen state.  The
        state read is wave `wave`'s (None at bootstrap: the empty state);
        the state written is wave `wave + 1`'s (0 at bootstrap).  Bloom and
        cuckoo shards are snapshots; exact mode appends the new keys to an
        append-only delta."""
        cfg = self.cfg
        nxt = 0 if wave is None else wave + 1
        if cfg.seen_mode == "bloom":
            p, m, k = cfg.bloom_partitions, cfg.bloom_m, cfg.bloom_k
            st = (
                seen.empty_state(self.spark, p, m, k)
                if wave is None
                else self.store.read_snapshot("seen_bloom", wave)
            )
            new_rows, st = seen.filter_new(cand, st, p, m, k)
            self.store.write_snapshot(st, "seen_bloom", nxt)
        elif cfg.seen_mode == "cuckoo":
            p = cfg.cuckoo_partitions
            st = (
                seen.cuckoo_empty_state(self.spark, p, cfg.cuckoo_buckets)
                if wave is None
                else self.store.read_snapshot("seen_cuckoo", wave)
            )
            new_rows, st = seen.cuckoo_apply(cand, st, p, "insert")
            self.store.write_snapshot(st, "seen_cuckoo", nxt)
        else:
            keys = None if wave is None else self.store.read_deltas("seen", wave)
            if keys is None:
                keys = fixtures.constant_df(self.spark, [], _SEEN_KEY_SCHEMA)
            new_rows = seen.dedup_exact(cand, keys.select("url_h"))
            self.store.write_delta(new_rows.select("url_h"), "seen", nxt)
        return new_rows

    def _read_pending(self, wave: int) -> DataFrame:
        """The live (pending) frontier as of committed wave ``wave``:
        merge-on-read over the last rebase snapshot R plus the deltas since
        it — additions from frontier_add (waves R+1..W), removals from the
        retired log (waves R..W-1; wave K's step retires with wave=K and its
        additions land at K+1).

        Merge shape: any key that appears in a post-rebase delta strictly
        supersedes its base row (adds carry wave > R; dels carry wave >= R
        and out-rank the base at a tie), so the base NEVER enters an
        aggregation — it is filtered by ONE left-anti join against the
        (small) changed-key set, which AQE turns into a broadcast anti join:
        map-only over the live set, exactly how Iceberg applies equality-
        delete files on read.  (Should a long rebase interval let the change
        set outgrow the broadcast threshold, the join degrades gracefully to
        a shuffled anti join — per-wave WRITE cost stays O(changes);
        frontier_merge_every is the knob that bounds the change set.)
        Only the changes themselves (bounded by
        merge_every x per-wave change volume) go through a last-op-wins
        max_by over (wave, is_del) — a key can go pending -> retired ->
        pending again (recrawl), and a key added and retired in the same
        wave resolves to retired via the is_del tie-break.  Deltas older
        than R are pruned by wave range (the rebase already folded them in),
        so read cost is O(live set) map-side + O(changes) shuffled, and
        write cost per wave is O(changes) — the old layout rewrote the full
        pending set every wave."""
        base_wave = self.store.latest_snapshot_wave("frontier", wave)
        assert base_wave is not None, "no committed frontier snapshot"
        base = self.store.read_snapshot("frontier", base_wave)
        adds = self.store.read_deltas("frontier_add", wave)
        dels = self.store.read_deltas("retired", wave - 1) if wave > 0 else None
        if adds is not None:
            adds = adds.filter(F.col("wave") > base_wave)
        if dels is not None:
            dels = dels.filter(F.col("wave") >= base_wave)
        if adds is None and dels is None:
            return base
        cols = fixtures.FRONTIER_COLS
        parts = []
        if adds is not None:
            parts.append(
                adds.select(
                    F.col("wave").cast("long").alias("w"), F.lit(0).alias("is_del"), *cols
                )
            )
        if dels is not None:
            parts.append(
                dels.select(
                    F.col("wave").cast("long").alias("w"), F.lit(1).alias("is_del"), *cols
                )
            )
        changes = parts[0]
        for p in parts[1:]:
            changes = changes.unionByName(p)
        ch_win = changes.groupBy("url_h").agg(
            F.max_by(
                F.struct(F.col("is_del").alias("is_del"), *cols),
                F.struct(F.col("w"), F.col("is_del")),
            ).alias("r")
        )
        survivors = ch_win.filter(F.col("r.is_del") == 0).select(
            *[F.col(f"r.{c}").alias(c) for c in cols]
        )
        return (
            base.join(ch_win.select("url_h"), "url_h", "left_anti")
            .select(*cols)
            .unionByName(survivors)
        )

    def maybe_rebase(self) -> None:
        """Apply the frontier rebase cadence: fold add/retire deltas into a
        fresh pending snapshot once the committed delta backlog reaches
        ``frontier_merge_every`` waves.  The ONE place the cadence policy
        lives — both the batch loop (run) and the streaming skin call this,
        so the two drives cannot drift.

        The backlog is measured from PERSISTENT state (latest committed wave
        minus latest complete snapshot wave), never from an in-process
        counter: a resume-heavy drive pattern — repeated ``run(max_waves=1)``
        or stream restarts, each of which resets any per-run counter — must
        still rebase on cadence, or the change set grows unbounded and the
        merge-on-read view degrades to a shuffled anti join."""
        me = self.cfg.frontier_merge_every
        if not me:
            return
        wave = self.store.latest_wave()
        if wave is None:
            return
        base = self.store.latest_snapshot_wave("frontier", wave)
        if base is None or wave - base >= me:
            self._merge_frontier()

    def _merge_frontier(self) -> None:
        """Rebase: materialize the merge-on-read pending view into a new
        frontier snapshot at the current wave, so future reads scan one
        snapshot instead of snapshot+deltas.  Equivalent to Iceberg's
        rewrite/compaction of equality deletes; crash-safe because a partial
        write has no _SUCCESS marker and latest_snapshot_wave ignores it."""
        wave = self.store.latest_wave()
        if wave is None or self.store.latest_snapshot_wave("frontier", wave) == wave:
            return
        self.store.write_snapshot(self._read_pending(wave), "frontier", wave)

    def _with_host_priority(self, df: DataFrame) -> DataFrame:
        """Join the adaptive host-priority signal (cfg.priority_table — e.g.
        -pagerank from graph.pagerank or -revisit_priority from the q72
        estimator) onto host-keyed rows.  No broadcast HINT on purpose: the
        table is host-cardinality (orders of magnitude below URL
        cardinality), so AQE broadcasts it whenever it fits — but a
        web-scale host table (10^8 domains) must be allowed to degrade to a
        shuffled join instead of being forced through the driver (the q57
        lesson: scale contracts live in code, not prose).  Missing hosts
        coalesce to default_host_priority so a partial signal never drops
        rows; with no table configured the column is a literal (no join in
        the plan at all)."""
        dflt = F.lit(float(self.cfg.default_host_priority))
        pt = self.cfg.priority_table
        if pt is None:
            return df.withColumn("host_priority", dflt)
        # defensively collapse duplicate host rows (e.g. a careless union of
        # the q71 and q72 signals) to their MIN priority — best wins,
        # deterministic; a duplicate-keyed left join would otherwise
        # MULTIPLY candidate and crawl-log rows, breaking the 'changes the
        # schedule, never the fetched set' contract
        pr = pt.groupBy("host").agg(
            F.min(F.col("host_priority").cast("double")).alias("_hp")
        )
        return (
            df.join(pr, "host", "left")
            .withColumn("host_priority", F.coalesce(F.col("_hp"), dflt))
            # restore the input column order (the equi join moves the host
            # key first) so both branches emit input-order + host_priority —
            # the log schema is identical across configs, order included
            .select(*df.columns, "host_priority")
        )

    # global admission order for the capacity-bound wave budget: host
    # priority first, then the same pure per-host key the scheduler uses.
    # Within one host this restricts to exactly sched.HOST_ORDER, so a
    # wave's admitted rows are always a PREFIX of each host's order — the
    # per-host token-bucket clock (cumulative count per host) is therefore
    # untouched by admission, which is what keeps the final canonical crawl
    # order equal to the uncapped run's.
    _ADMISSION_ORDER = ["host_priority", *sched.HOST_ORDER[:-1], "host", "url_h"]

    def _host_counts(self, wave: int) -> DataFrame | None:
        """Per-host fetched-so-far counts for the token-bucket clock.
        Maintained as a tiny running snapshot (n_hosts rows) rolled forward
        each wave — re-aggregating the full crawl_log history every wave
        would read O(W²) deltas over a crawl's lifetime.  Falls back to the
        history aggregation when resuming a state dir from an older layout.
        Wave 0 has fetched nothing yet, so it has no counts to read."""
        if wave == 0:
            return None
        try:
            return self.store.read_snapshot("host_counts", wave)
        except Exception:
            log_prev = self.store.read_deltas("crawl_log", wave)
            if log_prev is None:
                return None
            return log_prev.groupBy("host").agg(F.count("*").alias("n_prior"))

    # ------------------------------------------------------------------- step

    def step(self) -> bool:
        """Run one wave; returns False when the frontier is drained.
        Wave-lifetime caches are unpersisted on EVERY exit path (including a
        failed wave — a retried wave must not inherit leaked blocks)."""
        wave_caches: list[DataFrame] = []
        try:
            return self._step_impl(wave_caches)
        finally:
            for c in wave_caches:
                c.unpersist()

    def _step_impl(self, wave_caches: list[DataFrame]) -> bool:
        cfg = self.cfg
        wave = self.store.latest_wave()
        assert wave is not None, "bootstrap() first"
        # the merged pending view feeds three consumers (drain check,
        # schedule chain, blocked split) — cache it for the wave so the
        # anti-join merge runs once, not per consumer
        frontier = self._read_pending(wave).persist()
        wave_caches.append(frontier)
        # the pending view is pending-only by construction; the filter is a
        # cheap no-op guard for wave-0 bootstrap states of older layouts
        pending = frontier.filter(F.col("state") == "pending")
        if pending.isEmpty():
            return False

        # robots (broadcast) -> blocked split
        ann = robots.annotate(pending, self.robots_rules)
        blocked = ann.filter(F.col("blocked"))
        cand = ann.filter(~F.col("blocked"))

        # budgets + per-host priority rank + top-k + token-bucket schedule
        cand = polite.attach_budget(cand, self.budgets)
        # adaptive admission (the q71/q72 loop closed): top wave_k candidate
        # rows by (host_priority, per-host key) fetch this wave; the rest
        # simply stay pending.  orderBy+limit plans as TakeOrderedAndProject — per-partition top-k
        # then one k-row merge, no global sort, scale-safe for bounded k.
        if cfg.wave_k is not None:  # validated > 0 in __init__
            cand = self._with_host_priority(cand)
            cand = cand.orderBy(*self._ADMISSION_ORDER).limit(cfg.wave_k)
        # the not-scheduled remainder is never materialized: unscheduled
        # pending rows simply stay pending (no add, no retire), so the
        # per-wave write is O(changes).
        if cfg.take_k:
            # two-phase salted rank: exact per-host top-k, but a hot host
            # never lands in a single window task (sched.G1/G3).  Not
            # persisted: the fetch stage is its only consumer (the retire
            # rows are read back from the persisted fetch output).
            batch = sched.rank_topk_salted(cand, cfg.take_k)
        else:
            batch = sched.rank(cand)
        prior = self._host_counts(wave)
        batch = polite.schedule(batch, prior)

        # K1 salted repartition for the fetch stage (defeat per-host skew),
        # K3 lineage capture.  url_h is already a uniform xxhash64, so pmod
        # of the long IS the salt — re-hashing a stringified long is the
        # build-a-string-to-hash-it anti-pattern (BENCH/BASELINE.md top sink).
        batch = batch.repartition(
            cfg.salt_partitions,
            F.col("host"),
            F.pmod(F.col("url_h"), F.lit(cfg.salt_partitions)),
        )
        fetched = (
            fetch.simulate_native(batch)
            .withColumn("partition_id", F.spark_partition_id())
            .persist()
        )
        wave_caches.append(fetched)

        log_new = fetched.withColumn("wave", F.lit(wave)).select(*LOG_COLS)
        span_rows = assemble.explode_spans(fetched)

        # fanout + dedup vs seen (frontier membership).  The listing-page
        # overlap row re-discovers a URL as an identical row, and every seen
        # mode drops within-batch duplicates on url_h itself (dedup_exact,
        # _shard_cogroup), so no engine-side dedup shuffle is needed.
        disc = fetch.discoveries(fetched, self.seeds, wave + 1)
        disc_new = self._filter_seen(disc, wave).select(*fixtures.FRONTIER_COLS)

        # frontier update.  Retired rows (done/blocked) go to an append-only
        # delta (one wave's worth each), the same discipline as crawl_log —
        # that SAME delta doubles as the frontier's equality-delete log
        # (read side: _read_pending), so the pending set is never rewritten
        # per wave; at 10^10 URLs a rewrite-everything snapshot costs
        # O(live frontier) parquet encode+IO every single wave.  The done
        # rows come from the persisted fetch output, so the schedule chain
        # runs once per wave.
        done = fetched.select(*[c for c in fixtures.FRONTIER_COLS if c != "state"]).withColumn(
            "state", F.lit("done")
        )
        blk = blocked.select(*[c for c in fixtures.FRONTIER_COLS if c != "state"]).withColumn(
            "state", F.lit("blocked")
        )
        retired = done.select(*fixtures.FRONTIER_COLS).unionByName(
            blk.select(*fixtures.FRONTIER_COLS)
        )

        # roll the per-host fetch counts forward (n_hosts rows, tiny): one
        # aggregation over the prior counts and one row per fetch
        counts = fetched.select("host", F.lit(1).cast("long").alias("n_prior"))
        if prior is not None:
            counts = prior.unionByName(counts)
        counts = counts.groupBy("host").agg(F.sum("n_prior").alias("n_prior"))
        self.store.write_snapshot(counts, "host_counts", wave + 1)

        self.store.write_delta(retired, "retired", wave)
        self.store.write_delta(log_new, "crawl_log", wave)
        self.store.write_delta(span_rows, "spans", wave)
        self.store.write_delta(
            disc_new.select(*fixtures.FRONTIER_COLS), "frontier_add", wave + 1
        )
        self.store.commit(wave + 1, {"config": {"seen_mode": cfg.seen_mode}})
        return True

    def run(self, max_waves: int = 50) -> int:
        wave = self.bootstrap()
        n = 0
        while n < max_waves and self.step():
            n += 1
            # periodic frontier rebase: fold the add/retire deltas into a
            # fresh pending snapshot so the merge-on-read view never
            # accumulates unbounded deltas — Iceberg's periodic rewrite of
            # equality deletes.  Between rebases a wave writes
            # only its own changes.
            self.maybe_rebase()
            # periodic small-files compaction of the append-only deltas:
            # pure file-layout rewrite (row-identical, wave-pruning intact),
            # so crawl results are unaffected — asserted by the equality
            # suite running a compacting config
            if self.cfg.compact_every and n % self.cfg.compact_every == 0:
                for t in ("crawl_log", "spans", "retired", "frontier_add"):
                    self.store.compact_deltas(t)
        return n

    def recrawl(self, url_keys: DataFrame) -> int:
        """Delete-capable re-crawl (SURVEY §2 D3 — the reason the cuckoo
        seen-set exists): remove the given url_h keys from the seen set,
        re-queue their retired (done) frontier rows as pending, and re-insert
        them — preserving the seen == ever-enqueued invariant — as one
        committed wave-transaction.  Subsequent step() calls re-fetch them
        through the normal schedule; links they re-discover still dedup
        against the seen set.  Only valid in cuckoo mode: bloom bits and
        append-only exact deltas cannot delete."""
        if self.cfg.seen_mode != "cuckoo":
            raise ValueError(
                "recrawl requires seen_mode='cuckoo' (bloom/exact seen-sets cannot delete)"
            )
        wave = self.store.latest_wave()
        assert wave is not None, "bootstrap() first"
        keys = url_keys.select("url_h").dropDuplicates(["url_h"])
        done = self._retired_done(wave)
        if done is None:
            return 0
        requeue = (
            done.join(keys, "url_h", "left_semi")
            .withColumn("state", F.lit("pending"))
            .select(*fixtures.FRONTIER_COLS)
            .dropDuplicates(["url_h"])
        )
        st = self.store.read_snapshot("seen_cuckoo", wave)
        _, st_del = seen.cuckoo_apply(
            requeue.select("url_h"), st, self.cfg.cuckoo_partitions, "delete"
        )
        requeued, st_new = seen.cuckoo_apply(
            requeue, st_del, self.cfg.cuckoo_partitions, "insert"
        )
        self.store.write_snapshot(st_new, "seen_cuckoo", wave + 1)
        # the re-queued rows re-enter the pending view as an add delta at
        # wave+1, which out-waves their earlier retirement in the
        # last-op-wins merge — no snapshot rewrite
        self.store.write_delta(
            requeued.select(*fixtures.FRONTIER_COLS), "frontier_add", wave + 1
        )
        hc = self._host_counts(wave)
        if hc is not None:
            self.store.write_snapshot(hc, "host_counts", wave + 1)
        n = requeued.count()
        self.store.commit(
            wave + 1, {"config": {"seen_mode": self.cfg.seen_mode}, "recrawl": n}
        )
        return n

    def _retired_done(self, wave: int) -> DataFrame | None:
        """Completed (state='done') retired rows up to ``wave`` — the ONE
        definition of what is eligible for re-crawl.  Only completed
        fetches may be re-queued: deleting a still-pending/blocked key from
        the seen set would let a later discovery double-queue it."""
        retired = self.store.read_deltas("retired", wave)
        if retired is None:
            return None
        return retired.filter(F.col("state") == "done")

    def recrawl_hosts(self, hosts: DataFrame) -> int:
        """Bulk re-crawl of every completed URL on the given hosts — the
        form a revisit-priority signal drives (q72: estimate per-source
        change rates, threshold, pass the stale-and-changing hosts here).
        ``hosts`` needs one ``host`` string column; broadcast by
        construction (host cardinality).  Delegates to recrawl(), so the
        same cuckoo-only contract and wave-transaction semantics apply."""
        wave = self.store.latest_wave()
        assert wave is not None, "bootstrap() first"
        done = self._retired_done(wave)
        if done is None:
            return 0
        keys = (
            done.join(F.broadcast(hosts.select("host").distinct()), "host", "left_semi")
            .select("url_h")
            .distinct()
        )
        return self.recrawl(keys)

    # ---------------------------------------------------------------- outputs

    def crawl_log(self) -> DataFrame:
        """Committed crawl log with the canonical global crawl_seq (G4) —
        the order that must equal the sequential reference's (BASELINE.json:6).

        With cfg.priority_table set, the canonical key gains host_priority as
        its LEADING column (high-authority hosts first) — still a pure sort
        key over stored columns, so the adaptive order is exactly as
        deterministic, parallelism-invariant, and resumable as the static
        one (equality-suite-asserted against a driver-side re-sort)."""
        wave = self.store.latest_wave() or 0
        raw = self.store.read_deltas("crawl_log", wave)
        if raw is None:
            return self.spark.createDataFrame([], T.StructType([]))
        keyed = sched.with_canonical_key(raw)
        # host_priority is ALWAYS present (literal default_host_priority
        # when no table is configured) so the log schema is config-invariant
        # — a consumer written against the static shape survives flipping
        # the adaptive policy on (driver-ADVICE r4)
        keyed = self._with_host_priority(keyed)
        if self.cfg.priority_table is not None:
            order = ["host_priority", *sched.CANONICAL_ORDER_COLS]
            return sched.assign_global_seq(keyed, order_cols=order).drop("ord_phase")
        return sched.assign_global_seq(keyed).drop("ord_phase")

    def documents(self) -> DataFrame:
        """Assembled interleaved documents (BASELINE.json:15 shape)."""
        wave = self.store.latest_wave() or 0
        rows = self.store.read_deltas("spans", wave)
        if rows is None:
            return fixtures.documents_interleaved_df(self.spark, 0)
        return assemble.collect_spans(rows.drop("wave"))

    def wave_stats(self) -> DataFrame:
        wave = self.store.latest_wave() or 0
        return metrics.wave_stats(self.store.read_deltas("crawl_log", wave))

    def admission_stats(self) -> DataFrame:
        """The wave_k admission budget's observability row, in the
        bucket_cap_stats schema so it splices into metrics.pipeline_health
        (no silent caps): n_rows = total fetches committed, max_bucket_n =
        the largest single wave, buckets_dropped = waves that hit the
        wave_k ceiling (their remainder was DEFERRED to later waves, so
        rows_dropped is definitionally 0 — admission reorders work across
        waves, it never loses it; the convergence equality tests are the
        proof).  One hash agg over the committed crawl_log deltas."""
        wave = self.store.latest_wave() or 0
        raw = self.store.read_deltas("crawl_log", wave)
        spark = self.spark
        if raw is None:
            return spark.createDataFrame(
                [(0, 0, 0, 0)],
                "n_rows long, rows_dropped long, buckets_dropped long, "
                "max_bucket_n long",
            )
        per_wave = raw.groupBy("wave").agg(F.count("*").alias("n"))
        at_cap = (
            (F.col("n") >= F.lit(int(self.cfg.wave_k)))
            if self.cfg.wave_k is not None
            else F.lit(False)
        )
        return per_wave.agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows"),
            F.lit(0).cast("long").alias("rows_dropped"),
            F.coalesce(
                F.sum(F.when(at_cap, 1).otherwise(0)), F.lit(0)
            ).cast("long").alias("buckets_dropped"),
            F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("max_bucket_n"),
        )
