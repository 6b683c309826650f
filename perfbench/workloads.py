"""The three benchmark workloads.

Each workload owns its seeded input generator, a warm-up at reduced size,
one timed operation (``op``), a traced twin of that operation
(``op_traced``) that puts every call into the program under a span, and an
output check that runs outside the timed body.  Only generated inputs
reach ``crawlspark``; the seed never does.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import functions as F

from perfbench import reference


def _noop_write(df) -> None:
    """Materialize every column of ``df`` (a bare count() lets Catalyst
    prune the canonicalize projection away)."""
    df.write.format("noop").mode("overwrite").save()


def _materialize(df):
    df = df.persist()
    _noop_write(df)
    return df


# --------------------------------------------------------------- frontier


class Frontier:
    """One scheduling pass over synthetic raw URLs: canonicalize, hash,
    host, robots, budgets, fused dedup + per-host top-k, token-bucket
    schedule, global crawl_seq."""

    name = "frontier"
    until_drained = False
    N_HOSTS = 100
    TAKE_K = 300  # binds on every host at the default size

    def __init__(self, spark, seed: int, scale: float, tracer):
        self.spark = spark
        self.tracer = tracer
        rng = random.Random(seed)
        self.n_urls = int(100_000 * scale * rng.uniform(0.97, 1.03))
        self.salt = rng.randrange(1_000_000)
        self.digests: list[tuple] = []
        h = self.N_HOSTS
        self.rules = spark.createDataFrame(
            [(f"h{i}.example.com", ["/private"], None) for i in range(h)]
            + [("hot.example.com", ["/private"], 100)],
            "host string, disallow_prefix array<string>, crawl_delay_ms int",
        )
        self.budgets = spark.createDataFrame(
            [(f"h{i}.example.com", 2.0, 4) for i in range(h)]
            + [("hot.example.com", 0.5, 4)],
            "host string, max_rps double, burst int",
        )

    def synth(self, n_urls: int, dup_frac: float = 0.2):
        """Raw (uncanonical) URLs, deterministic from spark.range and the
        seed's salt: ~dup_frac duplicates in disguise (host case, default
        port, fragment), 10% of distinct URLs on one hot host, 5% under a
        robots-disallowed path.  Mirrored by reference.frontier_digest."""
        base = int(n_urls * (1 - dup_frac))
        df = self.spark.range(n_urls, numPartitions=16).select(
            F.col("id"), F.pmod(F.col("id"), F.lit(base)).alias("uid")
        )
        key = F.col("uid") + F.lit(self.salt)
        host = F.when(F.pmod(key, F.lit(10)) == 0, F.lit("hot.example.com")).otherwise(
            F.concat(
                F.lit("h"),
                F.pmod(key, F.lit(self.N_HOSTS)).cast("string"),
                F.lit(".example.com"),
            )
        )
        path = F.when(F.pmod(key, F.lit(20)) == 19, F.lit("/private/")).otherwise(
            F.lit("/Hotel_Review-d")
        )
        dup = F.col("id") >= base
        raw = F.concat(
            F.lit("HTTPS://"),
            F.when(dup, F.upper(host)).otherwise(host),
            F.lit(":443"),
            path,
            F.col("uid").cast("string"),
            F.lit(".html?b=2&utm_source=feed&a=1"),
            F.when(dup, F.lit("#dup")).otherwise(F.lit("")),
        )
        return df.select(F.col("uid"), raw.alias("url"))

    # the calls into the program, one per layer boundary
    def _urlkit(self, fr):
        from crawlspark import urlkit

        return (
            urlkit.with_canonical(fr)
            .withColumn("url_h", urlkit.hash64(F.col("url_canon")))
            .withColumn("host", urlkit.host(F.col("url_canon")))
            .drop("url")
            .withColumnRenamed("url_canon", "url")
        )

    def _budget(self, cand):
        from crawlspark import polite

        return (
            polite.attach_budget(cand, self.budgets)
            .withColumn("kind", F.lit("overview"))
            .withColumn("priority", F.lit(1))
            .withColumn("depth", F.lit(1))
            .withColumn("listing_rank", F.col("uid").cast("int"))
            .withColumn("page_offset", F.lit(0))
        )

    def _seq(self, batch):
        from crawlspark import sched

        return sched.assign_global_seq(sched.with_canonical_key(batch), pin="local")

    @staticmethod
    def _digest(out) -> tuple:
        r = out.agg(
            F.count("*"),
            F.min("crawl_seq"),
            F.max("crawl_seq"),
            F.count_distinct("crawl_seq"),
            F.sum("uid"),
            F.sum(F.col("crawl_seq") * F.col("uid")),
        ).first()
        return tuple(int(v or 0) for v in r)

    def warmup(self) -> None:
        # a reduced-size pass compiles the plan's code and pays the cold
        # JIT, most of whose cost is per pass rather than per row
        self._pass(self.synth(max(self.n_urls // 16, 1000)))

    def _pass(self, fr) -> tuple:
        from crawlspark import polite, robots, sched

        cand = self._budget(robots.allowed(self._urlkit(fr), self.rules))
        batch = polite.schedule(sched.dedup_rank_topk_fused(cand, self.TAKE_K))
        return self._digest(self._seq(batch))

    def op(self) -> int:
        self.digests.append(self._pass(self.synth(self.n_urls)))
        return self.n_urls

    def op_traced(self) -> int:
        from crawlspark import polite, robots, sched

        t = self.tracer
        stages = [
            ("input.synth", lambda _: self.synth(self.n_urls)),
            ("urlkit", self._urlkit),
            ("robots", lambda d: robots.allowed(d, self.rules)),
            ("polite.attach_budget", self._budget),
            ("sched.topk", lambda d: sched.dedup_rank_topk_fused(d, self.TAKE_K)),
            ("polite.schedule", polite.schedule),
            ("sched.seq", self._seq),
        ]
        prev, rows = None, 0
        for name, call in stages:
            with t.span(name) as sp:
                cur = _materialize(call(prev))
            with t.span("trace.rows"):
                sp["rows_in"], sp["rows_out"] = rows, cur.count()
            rows = sp["rows_out"]
            if prev is not None:
                prev.unpersist()
            prev = cur
        with t.span("output.digest"):
            self.digests.append(self._digest(prev))
        prev.unpersist()
        return self.n_urls

    def items(self, token) -> int:
        return token

    def check(self) -> list[str]:
        errs = []
        self.expected = reference.frontier_digest(
            self.n_urls, self.salt, self.N_HOSTS, self.TAKE_K
        )
        n = self.expected[0]
        for d in self.digests:
            if d[0] != n:
                errs.append(f"frontier: scheduled {d[0]} rows, expected {n}")
            elif (d[1], d[2], d[3]) != (1, n, n):
                errs.append(f"frontier: crawl_seq min/max/distinct {d[1:4]} is not 1..{n}")
            elif d != self.expected:
                errs.append(f"frontier: order digest {d} != expected {self.expected}")
        return errs

    def close(self) -> None:
        pass


# ------------------------------------------------------------------ crawl


class Crawl:
    """The politeness-bound many-wave crawl: CrawlEngine with the bloom
    seen-set from bootstrap() until drained, step() then maybe_rebase()
    per wave.  The warm-up is bootstrap plus the first wave of the same
    crawl; the timed body is every later wave until the crawl drains, one
    operation per wave, so its length is set by the crawl, not --seconds."""

    name = "crawl"
    until_drained = True  # the timed body is the rest of the crawl
    HOTELS = 400

    @classmethod
    def min_hotels(cls, scale: float) -> int:
        return max(20, int(cls.HOTELS * scale * 0.96))

    @classmethod
    def max_hotels(cls, scale: float) -> int:
        return max(20, int(cls.HOTELS * scale * 1.04))

    def __init__(self, spark, seed: int, scale: float, tracer, work_dir: str):
        from crawlspark.engine import CrawlEngine, EngineConfig

        self.spark = spark
        self.tracer = tracer
        rng = random.Random(seed)
        self.n_hotels = rng.randint(self.min_hotels(scale), self.max_hotels(scale))
        self.work_dir = work_dir
        self.state_dir = os.path.join(work_dir, "crawl-state")
        shutil.rmtree(self.state_dir, ignore_errors=True)
        self.cfg = EngineConfig(
            n_hotels=self.n_hotels,
            seen_mode="bloom",
            bloom_partitions=spark.sparkContext.defaultParallelism,
            bloom_m=1 << 18,
            take_k=2 * self.n_hotels,
            salt_partitions=spark.sparkContext.defaultParallelism,
            frontier_merge_every=2,
        )
        self.eng = CrawlEngine(spark, self.cfg, self.state_dir)
        self.drained = False

    def _wave(self) -> int | None:
        """One wave: step() then maybe_rebase().  Returns the wave number,
        or None once the frontier is drained."""
        wave = self.eng.store.latest_wave()
        if not self.eng.step():
            self.drained = True
            return None
        self.eng.maybe_rebase()
        return wave

    def warmup(self) -> None:
        with self.tracer.span("engine.bootstrap"):
            self.eng.bootstrap()
        self._wave()

    def op(self) -> int | None:
        return None if self.drained else self._wave()

    def items(self, wave: int | None) -> int:
        """Pages the wave fetched (its crawl_log rows)."""
        if wave is None:
            return 0
        return self.eng.store.read_snapshot("crawl_log", wave).count()

    def op_traced(self) -> int | None:
        from crawlspark import seen

        t = self.tracer
        if self.drained:
            return None
        store = self.eng.store
        real_snap, real_delta, real_filter = (
            store.write_snapshot,
            store.write_delta,
            seen.filter_new,
        )

        def traced_write(real):
            def write(df, table, wave):
                with t.span(f"state.{table}.write", table=table) as sp:
                    real(df, table, wave)
                sp["bytes"], sp["files"] = _dir_size(store._dir(table, wave))

            return write

        def traced_filter(df, state, *args):
            # count the input first, so the lazy rank, fetch and discovery
            # work it depends on is not timed as seen-set work
            with t.span("seen.filter_new.input"):
                n_in = df.count()
            with t.span("seen.filter_new", rows_in=n_in) as sp:
                new_rows, new_state = real_filter(df, state, *args)
                sp["rows_new"] = new_rows.count()
            return new_rows, new_state

        store.write_snapshot = traced_write(real_snap)
        store.write_delta = traced_write(real_delta)
        seen.filter_new = traced_filter
        try:
            wave = store.latest_wave()
            with t.span("engine.step", wave=wave):
                more = self.eng.step()
            if not more:
                self.drained = True
                return None
            with t.span("engine.rebase", wave=wave):
                self.eng.maybe_rebase()
        finally:
            del store.write_snapshot, store.write_delta
            seen.filter_new = real_filter
        return wave

    def drain(self) -> None:
        while not self.drained:
            self._wave()

    def check(self) -> list[str]:
        self.drain()
        rows = (
            self.eng.crawl_log()
            .select("crawl_seq", "url", "url_h")
            .orderBy("crawl_seq")
            .collect()
        )
        got_order = reference.order_digest((int(r[0]), r[1]) for r in rows)
        got_seen = reference.seen_digest(int(r[2]) for r in rows)
        want = reference.crawl_oracle_digests(
            self.n_hotels, os.path.join(os.path.dirname(self.work_dir), "cache")
        )
        errs = []
        if got_order != want["order"]:
            errs.append(
                f"crawl: crawl-order digest differs from the oracle at "
                f"n_hotels={self.n_hotels} ({len(rows)} vs {want['pages']} pages)"
            )
        if got_seen != want["seen"]:
            errs.append(f"crawl: seen-set digest differs from the oracle at n_hotels={self.n_hotels}")
        return errs

    def close(self) -> None:
        shutil.rmtree(self.state_dir, ignore_errors=True)


def _dir_size(path: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(dirpath, n))
    return total, files


# ---------------------------------------------------------------- neardup


class NearDup:
    """Shingle-Jaccard near-duplicate pairs (threshold 0.5, max_df 20)
    then connected components, over a generated corpus of near-copy
    families with a shared boilerplate head the max_df cut must drop."""

    name = "neardup"
    until_drained = False
    N = 3
    MAX_DF = 20
    THRESHOLD = 0.5

    def __init__(self, spark, seed: int, scale: float, tracer):
        self.spark = spark
        self.tracer = tracer
        self.n_docs = max(50, int(1000 * scale))
        self.rows = reference.neardup_corpus(self.n_docs, seed)
        self.docs = self._frame(self.rows).persist()
        _noop_write(self.docs)
        self.results: list[tuple[str, str]] = []

    def _frame(self, rows):
        return self.spark.createDataFrame(rows, "doc_id long, text string").repartition(
            self.spark.sparkContext.defaultParallelism
        )

    def _pairs(self, docs):
        from crawlspark import dedup

        return dedup.jaccard_pairs(
            docs, n=self.N, max_df=self.MAX_DF, threshold=self.THRESHOLD
        ).localCheckpoint()

    @staticmethod
    def _cc(pairs):
        from crawlspark import dedup

        return dedup.connected_components(pairs.select("doc_a", "doc_b"))

    def warmup(self) -> None:
        # as Frontier.warmup
        small = self._frame(self.rows[: max(50, len(self.rows) // 8)])
        self._cc(self._pairs(small)).collect()

    def op(self) -> int:
        pairs = self._pairs(self.docs)
        labels = self._cc(pairs)
        self._keep(pairs, labels)
        return self.n_docs

    def _keep(self, pairs, labels) -> None:
        """Digest the outputs for the check.  Both frames are already
        checkpointed, so this reads pinned blocks only."""
        self.results.append(
            (
                reference.pairs_digest(
                    tuple(r) for r in pairs.select("doc_a", "doc_b", "n_shared").collect()
                ),
                reference.labels_digest((r[0], r[1]) for r in labels.collect()),
            )
        )

    def op_traced(self) -> int:
        from crawlspark import dedup

        t = self.tracer
        with t.span("dedup.shingle") as sp:
            sh = _materialize(dedup.shingle_hashes(self.docs, n=self.N))
        with t.span("trace.rows"):
            sp["rows"] = sh.count()
            # pair expansions the shared-key core emits: C(df, 2) per kept shingle
            candidates = int(
                sh.groupBy("sh")
                .count()
                .filter(F.col("count") <= self.MAX_DF)
                .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                .first()[0]
                or 0
            )
        sh.unpersist()
        with t.span("dedup.stop", candidates=candidates) as sp:
            st = dedup.jaccard_stop_shingle_stats(self.docs, n=self.N, max_df=self.MAX_DF).first()
        sp["rows_dropped"] = int(st["rows_dropped"])
        with t.span("dedup.pairs") as sp:
            pairs = self._pairs(self.docs)
        with t.span("trace.rows"):
            sp["rows"] = pairs.count()
        with t.span("dedup.cc"):
            labels = self._cc(pairs)
        self._keep(pairs, labels)
        return self.n_docs

    def items(self, token) -> int:
        return token

    def check(self) -> list[str]:
        self.expected = reference.neardup_digests(self.rows, self.N, self.MAX_DF, self.THRESHOLD)
        return [
            f"neardup: {what} digest differs from the reference"
            for res in self.results
            for what, got, want in zip(("pair-set", "component"), res, self.expected)
            if got != want
        ]

    def close(self) -> None:
        self.docs.unpersist()


def make(name: str, spark, seed: int, scale: float, tracer, work_dir: str):
    if name == "frontier":
        return Frontier(spark, seed, scale, tracer)
    if name == "crawl":
        return Crawl(spark, seed, scale, tracer, work_dir)
    if name == "neardup":
        return NearDup(spark, seed, scale, tracer)
    raise ValueError(f"unknown workload {name!r}")
